"""Seeded inputs, and the expectations each workload is checked against.

Every input is a pure function of the seed. Expectations are computed in
set-up without the timed path: the cleaning result comes from the
driver-side kernel over the staged files, the quarantine count from this
module's own reading of the quarantine rules.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINE_CHARS = 48
EVAL_CHARS = 300
HEADERS = tuple(f"posted in community forum section {i} - read the rules"
                for i in range(4))
FOOTER = "copyright example press, all rights reserved"
# hidden, typographic and confusable characters the cleaner rewrites
MARKERS = np.array([0x200B, 0x200D, 0x2060, 0xFEFF, 0x00AD, 0x00A0, 0x2019,
                    0x201C, 0x2014, 0x0430], dtype=np.uint32)
# token-table rows made quarantine-bad on purpose, per mille
MISMATCH_PER_MILLE, NULL_TIME_PER_MILLE = 4, 1


def _random_text(rng: np.random.Generator, shape) -> np.ndarray:
    """Lower-case letters with ~1 space in 6: 20-character windows of two
    such texts never coincide, so only planted text is shared."""
    cps = rng.integers(97, 123, shape, dtype=np.uint32)
    cps[rng.random(shape) < 0.17] = 32
    return cps


def _decode(cps: np.ndarray) -> str:
    return np.ascontiguousarray(cps, dtype="<u4").tobytes().decode("utf-32-le")


def documents(seed: int, n_docs: int, *, marker_rate: float = 0.0,
              n_eval: int = 0, n_contaminated: int = 0):
    """Multi-line documents: a header line shared by a quarter of the
    corpus, 3-7 random body lines, a footer shared by all. With
    ``n_eval``, also an eval set of random single-line items, and a
    48-character slice of one eval item planted as a body line of
    ``n_contaminated`` documents.

    Returns (docs table ``doc_id int64, text string``, eval table of the
    same schema, sorted ids of contaminated docs).
    """
    rng = np.random.default_rng(seed)
    n_lines = rng.integers(3, 8, n_docs)
    first = np.concatenate([[0], np.cumsum(n_lines)])
    body = _random_text(rng, (int(first[-1]), LINE_CHARS))
    if marker_rate:
        hit = rng.random(body.shape) < marker_rate
        body[hit] = rng.choice(MARKERS, int(hit.sum()))
    ev = _random_text(rng, (n_eval, EVAL_CHARS))
    bad = np.sort(rng.choice(n_docs, n_contaminated, replace=False))
    if n_contaminated:
        item = rng.choice(n_eval, n_contaminated, replace=False)
        start = rng.integers(0, EVAL_CHARS - LINE_CHARS, n_contaminated)
        row = first[bad] + rng.integers(0, n_lines[bad])
        for r, i, s in zip(row, item, start):
            body[r] = ev[i, s:s + LINE_CHARS]
    flat = _decode(body)
    lines = [flat[i:i + LINE_CHARS] for i in range(0, len(flat), LINE_CHARS)]
    header = rng.integers(0, len(HEADERS), n_docs)
    texts = ["\n".join([HEADERS[header[d]], *lines[first[d]:first[d + 1]],
                        FOOTER]) for d in range(n_docs)]
    ids = pa.array(np.arange(n_docs, dtype=np.int64))
    docs = pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())})
    ev_flat = _decode(ev)
    eval_tbl = pa.table({
        "doc_id": pa.array(np.arange(n_eval, dtype=np.int64)),
        "text": pa.array([ev_flat[i:i + EVAL_CHARS]
                          for i in range(0, len(ev_flat), EVAL_CHARS)],
                         pa.string())})
    return docs, eval_tbl, bad


def write_table(tbl: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)


# one codepoint of every family the cleaner knows: hidden, bidi controls,
# variation selectors (IVS), typographic, confusables, and the two dead
# rules that are never detected
TOKEN_MARKERS = np.array(
    [0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF, 0x00A0, 0x202F, 0x00AD, 0x202E,
     0x202A, 0x202C, 0x2066, 0x2069, 0x2063, 0xFE00, 0xFE0F, 0x180B, 0x2009,
     0x3000, 0x2013, 0x2014, 0x2018, 0x2019, 0x201C, 0x201D, 0x2025, 0x00B7,
     0x2032, 0xFF01, 0x0410, 0x0430, 0x0441, 0x03BF, 0x2026, 0x2022,
     0xE0100, 0xE01EF], dtype=np.int32)
TOKEN_MARKER_RATE, BOM_EVERY = 0.04, 17
SOURCES = ("web", "books", "code", "chat", "wiki")
SOURCE_SHARE = (0.55, 0.20, 0.12, 0.08, 0.05)  # zipf-like skew
TOKEN_SCHEMA = pa.schema([("doc_id", pa.string()),
                          ("tokens", pa.list_(pa.int32())),
                          ("n_tok", pa.int32()), ("source", pa.string()),
                          ("event_time", pa.timestamp("us", tz="UTC"))])


def token_table(seed: int, n_rows: int) -> pa.Table:
    """Token-table rows in the stream schema: one multi-line document per
    row (~340 codepoints), a marker inserted before ~4% of tokens, a
    leading BOM on every 17th document, a skewed ``source``, and a fixed
    per-mille of rows made quarantine-bad (``n_tok`` off by one, or no
    ``event_time``)."""
    docs, _, _ = documents(seed, n_rows)
    texts = docs.column("text").to_pylist()
    flat = np.frombuffer("".join(texts).encode("utf-32-le"), dtype="<u4")
    offsets = np.concatenate([[0], np.cumsum([len(t) for t in texts])])
    rng = np.random.default_rng((seed, 1))
    pos = np.flatnonzero(rng.random(flat.size) < TOKEN_MARKER_RATE)
    bom = offsets[:-1][rng.integers(0, BOM_EVERY, n_rows) == 0]
    at = np.sort(np.concatenate([pos, bom]), kind="stable")
    vals = np.where(np.isin(at, bom), 0xFEFF,
                    rng.choice(TOKEN_MARKERS, at.size))
    # a marker drawn at the start of a BOM document becomes a second BOM
    tokens = np.insert(flat.astype(np.int32), at, vals.astype(np.int32))
    offsets = offsets + np.searchsorted(at, offsets, side="left")
    n_tok = np.diff(offsets).astype(np.int32)
    bad = rng.integers(0, 1000, n_rows)
    n_tok[bad < MISMATCH_PER_MILLE] += 1
    times = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.arange(n_rows) * np.timedelta64(137, "ms"))
    time_ok = (bad < MISMATCH_PER_MILLE) | (
        bad >= MISMATCH_PER_MILLE + NULL_TIME_PER_MILLE)
    src = np.searchsorted(np.cumsum(SOURCE_SHARE), rng.random(n_rows),
                          side="right")
    return pa.table([
        pa.array([f"s{seed}d{i}" for i in range(n_rows)], pa.string()),
        pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                 pa.array(tokens)),
        pa.array(n_tok),
        pa.array(np.asarray(SOURCES, dtype=object)[src], pa.string()),
        pa.array(times, pa.timestamp("us"), mask=~time_ok).cast(
            pa.timestamp("us", tz="UTC")),
    ], schema=TOKEN_SCHEMA)


def write_token_files(tbl: pa.Table, dest: str, n_files: int,
                      prefix: str) -> list[pa.Table]:
    """Split ``tbl`` into ``n_files`` equal files named
    ``<prefix><index>.parquet`` under ``dest``; returns the slices."""
    os.makedirs(dest, exist_ok=True)
    edges = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    parts = [tbl.slice(a, b - a) for a, b in zip(edges[:-1], edges[1:])]
    for i, part in enumerate(parts):
        pq.write_table(part, os.path.join(dest, f"{prefix}{i:04d}.parquet"))
    return parts


def token_file_expectation(t: pa.Table) -> dict:
    """What the pipeline must commit for one token file: the good rows'
    kernel output in aggregate, and the number of bad rows."""
    from hidden_characters_detector_spark.functions import kernel

    t = t.combine_chunks()
    tokens = t.column("tokens").chunk(0)
    good = pc.and_(pc.is_valid(t.column("event_time").chunk(0)),
                   pc.equal(t.column("n_tok").chunk(0),
                            pc.list_value_length(tokens)))
    g = tokens.filter(good)
    toks = g.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(
        pc.list_value_length(g).to_numpy(zero_copy_only=False),
        dtype=np.int64)])
    res = kernel.clean_flat(toks, offsets, kernel.FULL_CLEAN)
    return {"rows": len(g), "bad": t.num_rows - len(g),
            "tokens_in": int(toks.size),
            "tokens_out": int(res.out_tokens.size),
            "token_sum": int(res.out_tokens.sum()),
            "detected": int(res.n_detected.sum()),
            "doc_ids": t.column("doc_id").to_pylist()}
