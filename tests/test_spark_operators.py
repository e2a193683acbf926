"""Spark operator tests: clean_detect / detect_events / token_table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hidden_characters_detector_spark.functions.kernel import (
    DetectorConfig, FULL_CLEAN)
from hidden_characters_detector_spark.operators.clean import (
    clean_detect, detect_events)
from hidden_characters_detector_spark.sources import synth

SF_DIR = "/root/testdata/sf0.001"

TEXTS = [
    "Hello​world",
    "﻿bom lead\nsecond",
    "A B and “quotes”",
    "plain",
    "",
    "a‥b Аpple",
    "multi\nline‍\ntext\n",
]


@pytest.fixture(scope="module")
def tok_df(spark):
    rows = [(f"d{i}", [ord(c) for c in t], len(t), "web")
            for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")


def test_clean_detect_matches_oracle(spark, oracle, tok_df):
    out = {r["doc_id"]: r for r in clean_detect(tok_df, FULL_CLEAN).collect()}
    for i, t in enumerate(TEXTS):
        exp = oracle.run(t)
        r = out[f"d{i}"]
        assert r["tokens_clean"] == exp["tokens_clean"], t
        assert r["n_tok_clean"] == len(exp["tokens_clean"])
        assert r["n_detected"] == exp["n_detected"], t
        assert r["n_processed"] == exp["n_processed"], t
        assert r["had_marker"] == exp["had_marker"], t
        assert r["source"] == "web"  # passthrough preserved


def test_detect_events_rows(spark, tok_df):
    ev = detect_events(tok_df, FULL_CLEAN)
    rows = ev.collect()
    # d0: one ZWSP removal
    d0 = [r for r in rows if r["doc_id"] == "d0"]
    assert len(d0) == 1
    assert d0[0]["token"] == 0x200B
    assert d0[0]["marker_type"] == "Hidden"
    assert d0[0]["action"] == "Removed"
    assert d0[0]["replacement"] == []
    assert d0[0]["line_no"] == 1 and d0[0]["idx"] == 5
    # d1: leading BOM processed
    d1 = [r for r in rows if r["doc_id"] == "d1"]
    assert d1[0]["action"] == "Processed (BOM)"
    # d5: expansion replacement 0x2025 -> [.. ] and homoglyph A
    d5 = {r["token"]: r for r in rows if r["doc_id"] == "d5"}
    assert d5[0x2025]["action"] == "Replaced"
    assert d5[0x2025]["replacement"] == [0x2E, 0x2E]
    assert d5[0x0410]["replacement"] == [ord("A")]
    # multiline line numbering: d6 ZWJ on line 2
    d6 = [r for r in rows if r["doc_id"] == "d6"]
    assert d6[0]["line_no"] == 2 and d6[0]["idx"] == 4


def test_detect_events_detect_only_mode(spark, tok_df):
    ev = detect_events(tok_df, DetectorConfig(clean=False)).collect()
    # leading BOM suppressed in detect-only mode (ref :677)
    assert not [r for r in ev if r["doc_id"] == "d1" and r["idx"] == 0
                and r["line_no"] == 1]
    assert all(r["action"] == "Detected" for r in ev)
    # detect-only replacement is null, not empty (ref :532 default None)
    assert all(r["replacement"] is None for r in ev)


def test_token_table_deterministic_and_shaped(spark):
    df1 = synth.token_table(spark, SF_DIR).orderBy("doc_id")
    df2 = synth.token_table(spark, SF_DIR).repartition(7)
    assert df1.schema.simpleString() == (
        "struct<doc_id:string,tokens:array<int>,n_tok:int,"
        "source:string,event_time:timestamp>")
    a = {r["doc_id"]: r["tokens"] for r in df1.collect()}
    b = {r["doc_id"]: r["tokens"] for r in df2.collect()}
    assert a == b  # partitioning-independent determinism
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(a) == docs
    srcs = dict(synth.token_table(spark, SF_DIR)
                .groupBy("source").count().collect()
                and [(r["source"], r["count"]) for r in
                     synth.token_table(spark, SF_DIR)
                     .groupBy("source").count().collect()])
    assert set(srcs) <= set(synth.SOURCES)
    assert max(srcs.values()) > 2 * min(srcs.values())  # genuinely skewed


def test_token_table_roundtrip_cleaning_restores_text(spark, oracle):
    """Injected markers cleaned == oracle cleaning of the injected text."""
    tok = synth.token_table(spark, SF_DIR).limit(40)
    cleaned = {r["doc_id"]: r for r in clean_detect(tok, FULL_CLEAN).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in tok.collect()}
    checked = had = 0
    for doc_id, toks in raw.items():
        text = "".join(map(chr, toks))
        exp = oracle.run(text)
        got = cleaned[doc_id]
        assert got["tokens_clean"] == exp["tokens_clean"], doc_id
        assert got["n_detected"] == exp["n_detected"], doc_id
        checked += 1
        had += bool(got["had_marker"])
    assert checked == 40 and had > 10  # injection actually injected


def test_read_corpus_glob_and_recursive(spark, tmp_path):
    """S2/S3: recursive lookup + pathGlobFilter reader options."""
    import os
    from hidden_characters_detector_spark.sources.batch import (
        read_corpus, with_lineage)
    d1 = tmp_path / "a"
    d2 = tmp_path / "a" / "nested"
    os.makedirs(d2)
    df = spark.range(5).selectExpr("id", "'x' AS tag")
    df.coalesce(1).write.parquet(str(d1 / "keep_me"))
    df.coalesce(1).write.parquet(str(d2 / "deep"))
    # recursive picks up both levels
    got = read_corpus(spark, str(tmp_path), recursive=True)
    assert got.count() == 10
    # glob filter (S3): restrict to one file name pattern (own dir: Spark
    # caches file listings per path, so don't mutate an already-read dir)
    g = tmp_path / "globdir"
    os.makedirs(g)
    for n, name in ((3, "aa.parquet"), (4, "bb.parquet")):
        stage = str(tmp_path / "stage")
        spark.range(n).coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.replace(os.path.join(stage, part), str(g / name))
    assert read_corpus(spark, str(g), glob="aa*").count() == 3
    assert read_corpus(spark, str(g), glob="*.parquet").count() == 7
    # lineage columns attach per-file provenance
    lin = with_lineage(got)
    files = {r["_input_file"] for r in lin.select("_input_file").collect()}
    assert len(files) == 2
    assert "_partition_id" in lin.columns


def test_rate_token_stream_smoke(spark, tmp_path):
    """S5 streaming smoke: rate source mapped to synthetic sequences,
    cleaned in-stream."""
    from hidden_characters_detector_spark.streaming import pipeline
    stream = synth.rate_token_stream(spark, rows_per_second=50)
    cleaned = pipeline.clean_stream(stream)
    q = (cleaned.writeStream.format("memory").queryName("ratesmoke")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    try:
        import time as _t
        deadline = _t.time() + 60
        n = 0
        while _t.time() < deadline:
            n = spark.sql("select count(*) c from ratesmoke").collect()[0]["c"]
            if n >= 20:
                break
            _t.sleep(2)
        assert n >= 20
        rows = spark.sql(
            "select * from ratesmoke where had_marker limit 5").collect()
        for r in rows:
            assert r["n_detected"] > 0 and r["n_tok_clean"] <= r["n_tok"] + 3
    finally:
        q.stop()


def test_vs16_emoji_rule_when_library_present(monkeypatch):
    """P2: with an emoji base set available, FE0F after an emoji base is
    KEPT mid-line but removed at line start (ref :664-671).  The library is
    absent in this sandbox, so the base set is injected."""
    import numpy as np
    from hidden_characters_detector_spark.functions import kernel
    from kernel_cases import clean_rows
    monkeypatch.setattr(kernel, "EMOJI_BASE_ARR",
                        np.array([0x2764], dtype=np.int64))
    heart, fe0f = 0x2764, 0xFE0F
    rows = [
        [ord("h"), heart, fe0f, ord("i")],   # kept
        [fe0f, ord("x")],                    # line start -> removed
        [ord("a"), 0x0A, fe0f, ord("b")],    # start of line 2 -> removed
        [ord("a"), fe0f],                    # no emoji base before -> removed
    ]
    res = clean_rows(rows, kernel.FULL_CLEAN)
    outs = [res.out_tokens[res.out_offsets[i]:res.out_offsets[i+1]].tolist()
            for i in range(4)]
    assert outs[0] == [ord("h"), heart, fe0f, ord("i")]
    assert outs[1] == [ord("x")]
    assert outs[2] == [ord("a"), 0x0A, ord("b")]
    assert outs[3] == [ord("a")]
    assert res.n_detected.tolist() == [0, 1, 1, 1]


def test_sf001_full_corpus_differential(spark, oracle):
    """FIXTURES correctness tier: the whole sf0.01 synthetic corpus (500
    docs, seeded random marker injection) vs the reference detector run
    in-process, token-for-token plus all counters."""
    tok = synth.token_table(spark, "/root/testdata/sf0.01")
    cleaned = {r["doc_id"]: r for r in clean_detect(tok, FULL_CLEAN).collect()}
    raw = tok.collect()
    assert len(raw) == 500
    mismatches = 0
    for r in raw:
        exp = oracle.run("".join(map(chr, r["tokens"])))
        got = cleaned[r["doc_id"]]
        ok = (got["tokens_clean"] == exp["tokens_clean"]
              and got["n_detected"] == exp["n_detected"]
              and got["n_processed"] == exp["n_processed"]
              and got["had_marker"] == exp["had_marker"])
        mismatches += not ok
    assert mismatches == 0


def test_event_cols_pruning(spark):
    """event_cols prunes the event payload at the operator boundary; the
    pruned projection matches the full output column-for-column."""
    from hidden_characters_detector_spark.operators.clean import detect_events

    rows = [("p1", [0x61, 0x200B, 0x2018], 3, "web", None)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "event_time timestamp")
    full = detect_events(df, keep=["doc_id"])
    assert full.columns == ["doc_id", "line_no", "idx", "token",
                            "marker_type", "description", "action",
                            "replacement"]
    pruned = detect_events(df, keep=["doc_id"],
                           event_cols=["token", "marker_type"])
    assert pruned.columns == ["doc_id", "token", "marker_type"]
    want = {(r["token"], r["marker_type"]) for r in full.collect()}
    got = {(r["token"], r["marker_type"]) for r in pruned.collect()}
    assert got == want and len(got) == 2
    # description matches the reference tables
    d = {r["token"]: r["description"] for r in full.collect()}
    from hidden_characters_detector_spark import markers
    assert d[0x200B] == markers.HIDDEN_DESCRIPTIONS[0x200B]
    assert d[0x2018] == markers.TYPOGRAPHIC_DESCRIPTIONS[0x2018]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown event columns"):
        detect_events(df, event_cols=["nope"])


PARITY_DOCS = [
    ("p1", "He​llo Аpple\nline﻿2 “q” a‥b\n"),
    ("p2", "﻿bom lead\n\nx y tri⁙colon\n"),
    ("p3", None),
    ("p4", ""),
    ("p5", "plain\nascii\n"),
    ("p6", "一\U000e0101 — … end‍"),
]


@pytest.mark.parametrize("cfg", [FULL_CLEAN, DetectorConfig(clean=False)],
                         ids=["clean", "detect"])
def test_text_operators_match_token_operators(spark, cfg):
    """The fused text operators equal tokenize -> token operator, column
    for column, on a multi-line corpus with a NULL and an empty text."""
    from hidden_characters_detector_spark.operators.clean import (
        EVENT_COL_TYPES, clean_documents, document_events)
    from hidden_characters_detector_spark.operators.text_ops import tokenize

    docs = spark.createDataFrame(PARITY_DOCS, "doc_id string, text string") \
        .coalesce(1)
    fused = clean_documents(docs, cfg=cfg, emit_text=False)
    chained = clean_detect(tokenize(docs), cfg)
    assert sorted(fused.columns) == sorted(chained.columns)
    a = {r["doc_id"]: r.asDict() for r in fused.collect()}
    b = {r["doc_id"]: r.asDict() for r in chained.collect()}
    assert a == b and len(a) == len(PARITY_DOCS)
    assert a["p3"]["tokens_clean"] == [] and a["p1"]["n_detected"] > 0

    cols = ["doc_id"] + [n for n, _ in EVENT_COL_TYPES]

    def events(df):
        return sorted((tuple(r) for r in df.select(cols).collect()),
                      key=lambda t: (t[0], t[1], t[2]))

    fused_ev = events(document_events(docs, cfg=cfg))
    assert fused_ev == events(detect_events(tokenize(docs), cfg))
    assert {t[0] for t in fused_ev} == {"p1", "p2", "p6"}



def test_detokenize_null_row_keeps_later_rows(spark):
    """A NULL token list decodes as empty and leaves the later rows of its
    Arrow batch intact."""
    from hidden_characters_detector_spark.operators.text_ops import (
        detokenize)

    df = spark.createDataFrame(
        [(0, [72, 105]), (1, None), (2, [33]), (3, [])],
        "i int, tokens_clean array<int>").coalesce(1)
    got = [r["text_clean"] for r in detokenize(df).orderBy("i").collect()]
    assert got == ["Hi", "", "!", ""]


def _strings_by_row_slicing(flat, offsets):
    """The per-row decode ``flat_tokens_to_strings`` replaced: decode the
    batch once, slice the Python string per row."""
    import numpy as np
    import pyarrow as pa

    joined = np.ascontiguousarray(flat, dtype="<u4").tobytes().decode(
        "utf-32-le")
    return pa.array([joined[offsets[i]:offsets[i + 1]]
                     for i in range(len(offsets) - 1)], type=pa.string())


def test_flat_tokens_to_strings_matches_row_slicing():
    """The one-pass string builder equals per-row slicing: 1- to 4-byte
    UTF-8 codepoints (incl. non-BMP), ASCII-only batches, empty rows,
    offsets that start past zero (a slice of the batch) and int32 or
    strided input."""
    import numpy as np

    from hidden_characters_detector_spark.sources.synth import (
        flat_tokens_to_strings)

    rng = np.random.default_rng(7)
    pool = [0x41, 0x7F, 0x80, 0xE9, 0x7FF, 0x800, 0x200B, 0xFEFF, 0xFFFF,
            0x10000, 0x1F600, 0xE0100, 0x10FFFF]
    lens = rng.integers(0, 40, 300)
    lens[::7] = 0
    flat = rng.choice(pool, int(lens.sum())).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    cases = {
        "whole": (flat, offsets),
        "int32": (flat.astype(np.int32), offsets),
        "sliced": (flat, offsets[17:203]),
        "strided": (np.repeat(flat, 2)[::2], offsets),
        "ascii": (flat % 0x80, offsets),
        "all_empty": (flat[:0], np.zeros(4, np.int64)),
        "no_rows": (flat[:0], np.zeros(1, np.int64)),
    }
    for name, (f, o) in cases.items():
        got = flat_tokens_to_strings(f, o)
        got.validate(full=True)
        assert got.equals(_strings_by_row_slicing(f, o)), name


def test_text_operators_keep_any_order(spark):
    """``keep`` listed out of schema order still lands each value in its
    own column (the output follows the schema order)."""
    from hidden_characters_detector_spark.operators.clean import (
        clean_documents, document_events)

    df = spark.createDataFrame([("d1", "web", "a​b")],
                               "doc_id string, source string, text string")
    for op in (clean_documents, document_events):
        out = op(df, keep=["source", "doc_id"])
        assert out.columns[:2] == ["doc_id", "source"]
        r = out.collect()[0]
        assert (r["doc_id"], r["source"]) == ("d1", "web"), op.__name__
