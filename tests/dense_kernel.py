"""Dense reference implementation of the clean/detect kernel.

The straightforward per-token version of ``kernel.clean_flat``: every line
attribute (row start, line start, index in line, line number) is
materialized for every token, where the production kernel computes them
sparsely at marker and newline positions.  ``tests/test_kernel_parity.py``
checks the two are equal on newline-heavy random corpora.
"""

from __future__ import annotations

import numpy as np

from hidden_characters_detector_spark import markers
from hidden_characters_detector_spark.functions.kernel import (
    ACT_BOM, ACT_DETECTED, ACT_REMOVED, ACT_REPLACED, CLASS_LUT,
    EMOJI_BASE_ARR, FULL_CLEAN, REPL_LEN_LUT, TYPE_HIDDEN, TYPE_IVS,
    TYPE_TYPOGRAPHIC, _UNICODE_MAX, DetectorConfig, KernelResult,
    scatter_replacements)


def _line_structure(toks, offsets, lengths, n):
    """Per-token (line_start_pos, idx_in_line, line_no); all vectorized.

    Lines reset at row starts and after each 0x0A token (the reference reads
    files line-by-line with the trailing newline attached, ref :740-742).
    """
    g = np.arange(n, dtype=np.int64)
    row_start = np.repeat(offsets[:-1], lengths)
    # scatter line-start seeds, then forward-fill with maximum.accumulate
    seed = np.full(n, -1, dtype=np.int64)
    nz = offsets[:-1][lengths > 0]
    seed[nz] = nz
    after_nl = g[toks == markers.NEWLINE] + 1
    after_nl = after_nl[after_nl < n]
    seed[after_nl] = after_nl  # row starts re-seed identically; harmless
    line_start = np.maximum.accumulate(seed)
    idx_in_line = g - line_start
    nl_cum = np.concatenate([[0], np.cumsum(toks == markers.NEWLINE)])
    line_no = 1 + nl_cum[g] - nl_cum[row_start]
    return row_start, line_start, idx_in_line, line_no


def clean_flat_dense(toks: np.ndarray, offsets: np.ndarray,
                     cfg: DetectorConfig = FULL_CLEAN,
                     emit_events: bool = False) -> KernelResult:
    """Dense per-token implementation of ``kernel.clean_flat``'s contract:
    every line attribute is materialized for every token."""
    toks = np.asarray(toks, dtype=np.int64)
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

    row_start, line_start, idx_in_line, line_no = _line_structure(
        toks, offsets, lengths, n)

    safe = np.where((toks >= 0) & (toks < _UNICODE_MAX), toks, 0)
    cls = CLASS_LUT[safe]

    ex_arr = cfg.excluded_array()
    not_excluded = (~np.isin(toks, ex_arr)) if ex_arr.size else \
        np.ones(n, dtype=bool)

    # VS16 emoji-context keep rule (ref :664-671): only when the emoji
    # library is importable; requires idx>0 *within the line*.
    fe0f_keep = np.zeros(n, dtype=bool)
    if EMOJI_BASE_ARR.size:
        cand = (toks == markers.VS16) & (idx_in_line > 0) & not_excluded
        pos = np.nonzero(cand)[0]
        fe0f_keep[pos] = np.isin(toks[pos - 1], EMOJI_BASE_ARR)

    hidden = (cls == TYPE_HIDDEN) & not_excluded & ~fe0f_keep
    # BOM = U+FEFF at line 1, index 0 == global row start (ref :675)
    is_bom = hidden & (toks == markers.BOM) & (np.arange(n) == row_start)
    ivs = (cls == TYPE_IVS) & not_excluded if cfg.check_ivs else \
        np.zeros(n, dtype=bool)
    typo = (cls == TYPE_TYPOGRAPHIC) & not_excluded if cfg.check_typographic \
        else np.zeros(n, dtype=bool)

    rlen = REPL_LEN_LUT[safe]
    typo_replace = typo & (rlen > 0) & cfg.clean

    if cfg.clean:
        report = hidden | ivs | typo
        removed = hidden | ivs
        # every live replacement differs from its key (asserted in tests),
        # so `changed` is exactly removal-or-replacement (ref :682,:690,:699)
        changed = removed | typo_replace
    else:
        report = (hidden & ~is_bom) | ivs | typo  # lead BOM unreported (ref :677)
        removed = np.zeros(n, dtype=bool)
        changed = np.zeros(n, dtype=bool)

    # ---- output rebuild (clean) or passthrough (detect) --------------------
    if cfg.clean:
        out_len = np.ones(n, dtype=np.int64)
        out_len[removed] = 0
        out_len[typo_replace] = rlen[typo_replace]
        cum = np.concatenate([[0], np.cumsum(out_len)])
        out_offsets = cum[offsets]
        out = np.empty(int(cum[-1]), dtype=np.int64)
        plain = (out_len == 1) & ~typo_replace
        out[cum[:-1][plain]] = toks[plain]
        rp = np.nonzero(typo_replace)[0]
        scatter_replacements(out, cum[rp], toks[rp])
    else:
        out, out_offsets = toks, offsets

    # ---- per-row stats -----------------------------------------------------
    row_of = np.repeat(np.arange(nrows, dtype=np.int64), lengths)
    n_detected = np.bincount(row_of[report], minlength=nrows)
    had_marker = n_detected > 0
    hidden_rep = hidden if cfg.clean else (hidden & ~is_bom)
    n_hidden_row = np.bincount(row_of[hidden_rep], minlength=nrows)
    n_ivs_row = np.bincount(row_of[ivs], minlength=nrows)
    n_typo_row = np.bincount(row_of[typo], minlength=nrows)

    if cfg.clean:
        # compact per-line ids from the monotone line_start positions
        new_line = np.concatenate([[True], np.diff(line_start) > 0])
        lid = np.cumsum(new_line) - 1
        nlines = int(lid[-1]) + 1
        line_det = np.bincount(lid[report], minlength=nlines)
        line_chg = np.bincount(lid[changed], minlength=nlines) > 0
        line_row = row_of[np.nonzero(new_line)[0]]
        n_processed = np.bincount(
            line_row, weights=line_det * line_chg, minlength=nrows
        ).astype(np.int64)
    else:
        n_processed = np.zeros(nrows, dtype=np.int64)

    res = KernelResult(out, out_offsets, n_detected.astype(np.int64),
                       n_processed, had_marker,
                       n_hidden=n_hidden_row.astype(np.int64),
                       n_ivs=n_ivs_row.astype(np.int64),
                       n_typo=n_typo_row.astype(np.int64))

    if emit_events:
        ev = np.nonzero(report)[0]
        res.ev_offsets = np.searchsorted(ev, offsets, side="left").astype(np.int64)
        res.ev_line_no = line_no[ev]
        res.ev_idx = idx_in_line[ev]
        res.ev_token = toks[ev]
        ev_type = cls[ev].astype(np.int8)
        action = np.full(ev.size, ACT_DETECTED, dtype=np.int8)
        if cfg.clean:
            action[(hidden | ivs)[ev]] = ACT_REMOVED
            action[is_bom[ev]] = ACT_BOM
            action[typo_replace[ev]] = ACT_REPLACED
        res.ev_type = ev_type
        res.ev_action = action
    return res
