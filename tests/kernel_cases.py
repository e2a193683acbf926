"""Kernel test inputs shared by the reference-parity and golden tests.

The FIXTURES.md pattern matrix, the flag matrix, and the seeded random and
exhaustive-sweep corpora.  ``tests/test_kernel_parity.py`` runs them against
the live reference detector; ``tests/test_kernel_golden.py`` replays the
kernel outputs recorded from them in ``tests/golden/kernel_golden.json``.
``clean_rows`` runs ``kernel.clean_flat`` over a list of token rows.
"""

from __future__ import annotations

import random

import numpy as np

from hidden_characters_detector_spark.functions import kernel
from hidden_characters_detector_spark.functions.kernel import (
    FULL_CLEAN, DetectorConfig, KernelResult)

# --- the FIXTURES.md pattern matrix ----------------------------------------
PATTERNS = {
    "zwsp_embed": "Hello​world and mid‌word j‍oin w⁠ord",
    "bom_lead": "﻿leading bom line\nsecond line",
    "bom_mid": "first\n﻿second line with ﻿ mid",
    "bidi_override": "user‮txt.exe and ⁦iso⁧late⁨s⁩ "
                     "‪emb‫ed‬s‭!",
    "nbsp_precedence": "A B",
    "exotic_spaces": "a b c d e f g h"
                     " i j k l m n　o"
                     "᠎p͏q­r",
    "variation_selectors": "x︀y︍z᠋᠌᠍ end",
    "emoji_vs16": "hi ❤️ there",
    "fe0f_linestart": "line one\n️starts line two",
    "ivs_range": "一\U000e0101 and 丁\U000e0100 丂\U000e01ef",
    "smart_quotes": "“text” and ‘more’",
    "dashes": "a–b—c‒d―e−f﹣g⁒h‐"
              "i‑j",
    "expansion": "a‥b and ell…ipsis",
    "dead_rules": "dots… bullet• low„quote",
    "homoglyph_mixed": "Аpple соde",
    "fullwidth_punct": "！？：；，．／＇",
    "greek_question": "why;",
    "detect_only_typo": "tri⁙colon four⁚dot áccent "
                        "mˈark trip‴rime",
    "clean_text": "plain ascii text with no markers at all",
    "multiline": "one​two\nthree—four\n\nfinal‍\n",
    "trailing_marker_before_newline": "end​\nnext",
    "empty": "",
    "only_markers": "​‌‍",
    "newline_only": "\n\n\n",
    "apostrophes": "caf´e pri′me dou″ble rev‵ r‶ "
                   "comʻma apʼo ringʾ f＇w",
    "commas_slashes": "a،b‚c﹐d，e f⁄g∕h／i",
    "dots": "m·id b∙op tri‣b one․dot hy‧p id。"
            "full sm﹒all f．ull",
    "colons": "s﹕c s﹖s f：c f；s",
    "bang": "clickǃ full！",
    "primes_detect_only": "tr‴iple",
}

FLAG_MATRIX = [
    dict(clean=True, check_typographic=True, check_ivs=True),
    dict(clean=True, check_typographic=False, check_ivs=False),
    dict(clean=True, check_typographic=True, check_ivs=False),
    dict(clean=False, check_typographic=True, check_ivs=True),
    dict(clean=False, check_typographic=False, check_ivs=False),
]


MARKER_POOL = (
    [0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF, 0x00A0, 0x202F, 0x202E, 0x2066,
     0xFE00, 0xFE0F, 0x180B, 0x00AD, 0x2063]
    + [0x2013, 0x2014, 0x2018, 0x2019, 0x201C, 0x201D, 0x2025, 0x2026,
       0x2022, 0x2059, 0x0410, 0x0441, 0x043E, 0xFF01, 0x037E, 0x0301]
    + [0xE0100, 0xE0150, 0xE01EF]
)
BASE_POOL = [ord(c) for c in
             "abcdefghijklmnopqrstuvwxyz ABCDEFXYZ0123456789.,!?-'\"\t"] \
    + [0x4E2D, 0x6587, 0x1F600, 0x2764, 0x00E9]



def flags_id(f: dict) -> str:
    return (f"c{int(f['clean'])}t{int(f['check_typographic'])}"
            f"i{int(f['check_ivs'])}")


def config(flags: dict) -> DetectorConfig:
    return DetectorConfig(
        clean=flags.get("clean", True),
        check_typographic=flags.get("check_typographic", True),
        check_ivs=flags.get("check_ivs", True),
        exclude_word_chars=flags.get("exclude_word_chars", False),
        excluded=frozenset(flags.get("excluded", frozenset())),
    )


def random_rows(seed: int) -> list[list[int]]:
    """30 rows of up to 60 tokens: 25% markers, 5% newlines."""
    rng = random.Random(42 + seed)
    rows = []
    for _ in range(30):
        n = rng.randint(0, 60)
        toks = []
        for _ in range(n):
            r = rng.random()
            if r < 0.25:
                toks.append(rng.choice(MARKER_POOL))
            elif r < 0.30:
                toks.append(0x0A)
            else:
                toks.append(rng.choice(BASE_POOL))
        rows.append(toks)
    return rows


def sweep_text() -> str:
    """Every marker codepoint in the inventory, each in ascii context."""
    from hidden_characters_detector_spark import markers as mk
    cps = sorted(mk.HIDDEN_CODEPOINTS | mk.TYPOGRAPHIC_CODEPOINTS
                 | {mk.IVS_LO, mk.IVS_LO + 1, mk.IVS_HI}
                 | {0x2026, 0x2022, 0x201E})  # dead rules too
    return "x".join(chr(cp) for cp in cps)


EXCLUDED_TEXT = "zw\u200bsp and nb\u00a0sp"
WORD_MODE_TEXT = ("\u201cquoted\u201d en\u2013dash nb\u00a0sp "
                  "ell\u2026ipsis")


def flatten(rows: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
    """Token rows -> (flat int64 tokens, int64 row offsets)."""
    lengths = np.fromiter((len(r) for r in rows), dtype=np.int64,
                          count=len(rows))
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    toks = np.concatenate([np.asarray(r, dtype=np.int64) for r in rows]) \
        if len(rows) and offsets[-1] else np.zeros(0, dtype=np.int64)
    return toks, offsets


def clean_rows(rows: list[list[int]], cfg: DetectorConfig = FULL_CLEAN,
               emit_events: bool = False) -> KernelResult:
    """``kernel.clean_flat`` over a list of token rows."""
    return kernel.clean_flat(*flatten(rows), cfg, emit_events)
