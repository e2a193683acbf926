"""Structured Streaming semantics tests (SURVEY.md §5.2 item 2).

Micro-streams over temp-dir parquet file sources, availableNow triggers:
window contents, session merging, watermark late-drop, stream-stream dict
join, and exactly-once checkpoint resume.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest

from pyspark.sql import functions as F

from hidden_characters_detector_spark.sinks.exactly_once import (
    exactly_once_parquet_sink, read_sink)
from hidden_characters_detector_spark.sources import confusable_dict
from hidden_characters_detector_spark.streaming import pipeline
from hidden_characters_detector_spark.streaming.metrics import (
    ProgressRecorder)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

ZWSP, QUOTE = 0x200B, 0x2018


def _toks(text_tokens):
    return [int(t) for t in text_tokens]


def _row(doc, toks, source, ts):
    return (doc, _toks(toks), len(toks), source, ts)


def _write_file(spark, rows, path, mtime,
                schema=pipeline.TOKEN_STREAM_SCHEMA):
    """Shared stream-file staging helper — see conftest.write_stream_file."""
    from conftest import write_stream_file

    write_stream_file(spark, rows, path, mtime, schema)


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


A = ord("a")


def test_density_window_late_drop(spark, tmp_path):
    """Tumbling windows finalize at the watermark; late rows are dropped and
    counted (north_rule watermark-driven late-data handling)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    now = time.time()
    # batch 1: two docs with one ZWSP each in window [0,1)
    _write_file(spark, [
        _row("d1", [A, ZWSP, A], "web", _mins(0)),
        _row("d2", [A, ZWSP], "web", _mins(0.5)),
    ], os.path.join(src, "f1"), now - 300)
    # batch 2: advances watermark far past window 0 (wm = 30 - 10 = 20);
    # batch 3 lets the new watermark take effect (Spark applies the watermark
    # computed from batch N-1's data when filtering batch N)
    _write_file(spark, [
        _row("d3", [ZWSP, A], "web", _mins(30)),
    ], os.path.join(src, "f2"), now - 200)
    _write_file(spark, [
        _row("d5", [ZWSP], "web", _mins(31)),
    ], os.path.join(src, "f3"), now - 150)
    # batch 4: a LATE row targeting window [0,1) — must be dropped
    _write_file(spark, [
        _row("d4", [ZWSP], "web", _mins(0.2)),
    ], os.path.join(src, "f4"), now - 100)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        tok = pipeline.read_token_stream(spark, src, max_files_per_trigger=1)
        ev = pipeline.event_stream(tok)
        dens = pipeline.density_windows(ev, watermark="10 minutes",
                                        window="1 minute")
        q = (dens.writeStream.format("memory").queryName("dens")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        out = {(r["window_start"], r["source"]): r["n_detections"]
               for r in spark.sql("select * from dens").collect()}
        # window [0,1) finalized with exactly the 2 on-time detections
        assert out.get((_mins(0), "web")) == 2
        # window [30,31) not finalized (watermark never passed it)
        assert (_mins(30), "web") not in out
        deadline = time.time() + 30
        while (rec.rows_dropped_by_watermark() == 0
               and time.time() < deadline):
            time.sleep(1)
        assert rec.rows_dropped_by_watermark() >= 1
    finally:
        spark.streams.removeListener(rec)


def test_session_bursts_merge_and_split(spark, tmp_path):
    """30s-gap sessions: a burst merges, a distant event opens a new one."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    now = time.time()
    burst = [
        _row("dburst", [ZWSP], "web", T0 + dt.timedelta(seconds=s))
        for s in (0, 10, 20)
    ] + [_row("dburst", [ZWSP], "web", T0 + dt.timedelta(seconds=120))]
    _write_file(spark, burst, os.path.join(src, "f1"), now - 300)
    # watermark pusher
    _write_file(spark, [_row("dlate", [ZWSP], "web", _mins(60))],
                os.path.join(src, "f2"), now - 200)

    tok = pipeline.read_token_stream(spark, src, max_files_per_trigger=1)
    sess = pipeline.session_bursts(pipeline.event_stream(tok),
                                   watermark="10 minutes", gap="30 seconds")
    q = (sess.writeStream.format("memory").queryName("sess")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = [r for r in spark.sql("select * from sess").collect()
            if r["doc_id"] == "dburst"]
    assert len(rows) == 2  # merged burst + the distant single
    by_start = sorted(rows, key=lambda r: r["session_start"])
    assert by_start[0]["n_detections"] == 3
    assert by_start[0]["session_start"] == T0
    # session end = last event + gap (half-open)
    assert by_start[0]["session_end"] == T0 + dt.timedelta(seconds=50)
    assert by_start[1]["n_detections"] == 1


def test_confusable_dict_join(spark, tmp_path):
    """Stream-stream interval join matches events to in-validity rules."""
    ev_src = str(tmp_path / "ev")
    dc_src = str(tmp_path / "dict")
    os.makedirs(ev_src)
    now = time.time()
    confusable_dict.write_dict_batches(spark, dc_src, T0, n_batches=3)
    # staggered valid_from: QUOTE (0x2018 % 3 = 2) -> T0+10min,
    # ZWSP (0x200B % 3 = 1) -> T0+5min.  Event at T0+12min matches both;
    # an event 90min before any valid_from matches nothing.
    _write_file(spark, [
        _row("dj", [QUOTE, ZWSP, A], "web", _mins(12)),
        _row("dearly", [QUOTE], "web", T0 - dt.timedelta(minutes=90)),
    ], os.path.join(ev_src, "f1"), now - 300)
    _write_file(spark, [_row("dpush", [A], "web", _mins(50))],
                os.path.join(ev_src, "f2"), now - 200)

    tok = pipeline.read_token_stream(spark, ev_src, max_files_per_trigger=1)
    ev = pipeline.event_stream(tok)
    dc = confusable_dict.read_dict_stream(spark, dc_src)
    joined = pipeline.confusable_dict_join(ev, dc, validity="1 hour")
    q = (joined.writeStream.format("memory").queryName("dj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from dj").collect()
    matched = {(r["doc_id"], r["token"]) for r in rows}
    assert ("dj", QUOTE) in matched
    assert ("dj", ZWSP) in matched
    # event 90 min before the rule's valid_from never matches
    assert not any(r["doc_id"] == "dearly" for r in rows)
    # join carries the dictionary payload
    qrow = [r for r in rows if r["doc_id"] == "dj" and r["token"] == QUOTE][0]
    assert qrow["replacement"] == [ord("'")]


def test_exactly_once_sink_and_resume(spark, tmp_path):
    """Checkpoint resume adds only new data; re-runs don't duplicate
    (the reference's atomic temp-file commit, ref :911-923, at stream scale).
    """
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    now = time.time()
    rows1 = [_row(f"a{i}", [A, ZWSP, A], "web", _mins(i)) for i in range(5)]
    _write_file(spark, rows1, os.path.join(src, "f1"), now - 300)

    tok = pipeline.read_token_stream(spark, src)
    cleaned = pipeline.clean_stream(tok)
    q = exactly_once_parquet_sink(cleaned, out, ck)
    q.awaitTermination(120)
    first = read_sink(spark, out).collect()
    assert sorted(r["doc_id"] for r in first) == sorted(
        r[0] for r in rows1)
    assert all(r["tokens_clean"] == [A, A] for r in first)
    assert {"batch_id", "sink_partition_id", "partition_id"} <= \
        set(read_sink(spark, out).columns)

    # restart with new file: only the new rows are appended
    rows2 = [_row(f"b{i}", [ZWSP], "web", _mins(10 + i)) for i in range(3)]
    _write_file(spark, rows2, os.path.join(src, "f2"), now - 100)
    q2 = exactly_once_parquet_sink(pipeline.clean_stream(
        pipeline.read_token_stream(spark, src)), out, ck)
    q2.awaitTermination(120)
    second = read_sink(spark, out).collect()
    assert len(second) == 8
    assert len({r["doc_id"] for r in second}) == 8

    # idle restart: nothing new, no duplicates
    q3 = exactly_once_parquet_sink(pipeline.clean_stream(
        pipeline.read_token_stream(spark, src)), out, ck)
    q3.awaitTermination(120)
    assert len(read_sink(spark, out).collect()) == 8


def test_salted_equals_plain_density(spark):
    """Two-phase salted aggregate folds to the same totals (batch check)."""
    rows = []
    for i in range(200):
        src = "web" if i % 4 else "books"
        rows.append(_row(f"s{i}", [ZWSP, A, QUOTE], src,
                         _mins(i % 3)))
    df = spark.createDataFrame(rows, pipeline.TOKEN_STREAM_SCHEMA)
    ev = pipeline.event_stream(df)
    plain = {(r["window_start"], r["source"]): r["n_detections"]
             for r in pipeline.density_windows(ev).collect()}
    salted = {(r["window_start"], r["source"]): r["n_detections"]
              for r in pipeline.salted_density_windows(ev).collect()}
    assert plain == salted and len(plain) >= 3


def test_scan_stats_stream_batch_equivalence(spark):
    rows = [_row("x1", [A, ZWSP], "web", _mins(0)),
            _row("x2", [A], "web", _mins(0.3)),
            _row("x3", [QUOTE], "books", _mins(0.7))]
    df = spark.createDataFrame(rows, pipeline.TOKEN_STREAM_SCHEMA)
    got = {(r["window_start"], r["source"]):
           (r["files_processed"], r["files_with_markers"],
            r["total_markers_detected"], r["total_markers_processed"])
           for r in pipeline.scan_stats_stream(
               pipeline.clean_stream(df)).collect()}
    assert got[(_mins(0), "web")] == (2, 1, 1, 1)
    assert got[(_mins(0), "books")] == (1, 1, 1, 1)


def test_salted_density_streaming_mode(spark, tmp_path):
    """Two-phase salted density as a real STREAM (multi-stateful-operator
    chaining via window_time — regression test for watermark propagation)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    now = time.time()
    _write_file(spark, [
        _row("s1", [ZWSP, A, ZWSP], "web", _mins(0)),
        _row("s2", [ZWSP], "web", _mins(0.5)),
        _row("s3", [ZWSP], "books", _mins(0.2)),
    ], os.path.join(src, "f1"), now - 300)
    _write_file(spark, [_row("s4", [ZWSP], "web", _mins(40))],
                os.path.join(src, "f2"), now - 200)
    _write_file(spark, [_row("s5", [ZWSP], "web", _mins(41))],
                os.path.join(src, "f3"), now - 100)

    tok = pipeline.read_token_stream(spark, src, max_files_per_trigger=1)
    dens = pipeline.salted_density_windows(pipeline.event_stream(tok),
                                           watermark="10 minutes",
                                           window="1 minute", salt=4)
    q = (dens.writeStream.format("memory").queryName("saltdens")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = {(r["window_start"], r["source"]): r["n_detections"]
           for r in spark.sql("select * from saltdens").collect()}
    assert out[(_mins(0), "web")] == 3
    assert out[(_mins(0), "books")] == 1


def test_rocksdb_state_store_density(spark, tmp_path):
    """Density windows on the RocksDB state-store provider (the at-scale
    state backend), including checkpoint resume on new data."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    now = time.time()
    _write_file(spark, [_row("r1", [ZWSP, A], "web", _mins(0)),
                        _row("r2", [ZWSP], "web", _mins(0.4))],
                os.path.join(src, "f1"), now - 300)
    _write_file(spark, [_row("r3", [ZWSP], "web", _mins(30))],
                os.path.join(src, "f2"), now - 250)
    _write_file(spark, [_row("r4", [ZWSP], "web", _mins(31))],
                os.path.join(src, "f3"), now - 200)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                          None)
    pipeline.use_rocksdb_state_store(spark)
    try:
        out_dir = str(tmp_path / "out")

        def start():
            tok = pipeline.read_token_stream(spark, src,
                                             max_files_per_trigger=1)
            dens = pipeline.density_windows(pipeline.event_stream(tok),
                                            watermark="10 minutes",
                                            window="1 minute")
            return exactly_once_parquet_sink(
                dens, out_dir, str(tmp_path / "ck"), query_name="rdens")

        def sink_rows():
            return {(r["window_start"], r["source"]): r["n_detections"]
                    for r in read_sink(spark, out_dir).collect()}

        q = start()
        q.awaitTermination(180)
        out = sink_rows()
        assert out.get((_mins(0), "web")) == 2

        # resume from the RocksDB checkpoint with new data: watermark and
        # window state survive the restart
        _write_file(spark, [_row("r5", [ZWSP], "web", _mins(32))],
                    os.path.join(src, "f4"), now - 100)
        _write_file(spark, [_row("r6", [ZWSP], "web", _mins(60))],
                    os.path.join(src, "f5"), now - 50)
        q2 = start()
        q2.awaitTermination(180)
        out2 = sink_rows()
        # windows 30/31 finalize only if their state survived the restart
        assert out2.get((_mins(30), "web")) == 1
        assert out2.get((_mins(31), "web")) == 1
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass")


def test_mid_stream_kill_and_resume(spark, tmp_path):
    """Kill a RUNNING continuous query between batches, restart from the
    same checkpoint: no lost and no duplicated sink rows (the stream-scale
    version of the reference's crash-safe temp-file commit)."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    now = time.time()
    for i in range(6):
        _write_file(spark, [_row(f"k{i}_{j}", [A, ZWSP], "web",
                                 _mins(i)) for j in range(10)],
                    os.path.join(src, f"f{i}"), now - 300 + i)

    def start():
        tok = pipeline.read_token_stream(spark, src, max_files_per_trigger=1)
        return exactly_once_parquet_sink(
            pipeline.clean_stream(tok), out, ck,
            trigger_available_now=False, query_name="killer")

    q = start()
    # let at least one batch commit, then kill mid-flight
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(f.startswith("_manifest") for f in
               (os.listdir(out) if os.path.exists(out) else [])):
            break
        time.sleep(0.5)
    q.stop()

    n_after_kill = read_sink(spark, out).count() if os.path.exists(out) else 0
    assert n_after_kill >= 10  # something committed before the kill

    # resume: availableNow drains the rest exactly once
    q2 = exactly_once_parquet_sink(
        pipeline.clean_stream(
            pipeline.read_token_stream(spark, src, max_files_per_trigger=1)),
        out, ck, query_name="killer2")
    q2.awaitTermination(180)
    final = read_sink(spark, out)
    assert final.count() == 60
    assert final.select("doc_id").distinct().count() == 60


def test_single_pass_pipeline(spark, tmp_path):
    """ONE query cleans each batch once: sink rows + footer manifests +
    density partials derived from the committed counters all agree with an
    independent batch recomputation."""
    import json

    from hidden_characters_detector_spark.operators.clean import clean_detect

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    rows1 = ([_row(f"p{i}", [A, ZWSP, A], "web", _mins(i % 2))
              for i in range(6)]
             + [_row("pb", [QUOTE, A], "books", _mins(0.5))])
    _write_file(spark, rows1, os.path.join(src, "f1"), now - 300)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = pipeline.single_pass_pipeline(spark, src, out,
                                          str(tmp_path / "ck"),
                                          max_files_per_trigger=1)
        q.awaitTermination(120)
    finally:
        spark.streams.removeListener(rec)
    # observe() telemetry: per-batch marker metrics ride the progress
    # events at zero extra compute (listener delivery is async — poll)
    deadline = time.time() + 30
    while (rec.observed("clean_metrics", "n_seq") < 7
           and time.time() < deadline):
        time.sleep(0.5)
    assert rec.observed("clean_metrics", "n_seq") == 7
    assert rec.observed("clean_metrics", "n_detected") == 7
    assert rec.observed("clean_metrics", "n_seq_with_markers") == 7

    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert sink.count() == 7
    got = {r["doc_id"]: r["tokens_clean"] for r in sink.collect()}
    assert got["p0"] == [A, A]            # ZWSP removed
    assert got["pb"] == [ord("'"), A]     # smart quote replaced

    # manifests carry footer-exact row counts (no batch recompute)
    manifests = [f for f in os.listdir(os.path.join(out, "cleaned"))
                 if f.startswith("_manifest")]
    assert manifests
    total = sum(json.load(open(os.path.join(out, "cleaned", m)))["rows"]
                for m in manifests)
    assert total == 7

    # density partials fold to the same totals as a batch recomputation
    dens = {(r["window_start"], r["source"]):
            (r["n_detections"], r["n_hidden"], r["n_seq"])
            for r in pipeline.read_density(spark, out).collect()}
    batch = spark.read.schema(pipeline.TOKEN_STREAM_SCHEMA).parquet(src)
    expect = {(r["ws"], r["source"]):
              (r["nd"], r["nh"], r["ns"])
              for r in (clean_detect(batch)
                        .groupBy(F.window("event_time", "1 minute")
                                 .alias("w"), "source")
                        .agg(F.sum("n_detected").alias("nd"),
                             F.sum("n_hidden").alias("nh"),
                             F.count("*").alias("ns"))
                        .select(F.col("w.start").alias("ws"), "source",
                                "nd", "nh", "ns")).collect()}
    assert dens == expect and len(dens) >= 3

    # resume from checkpoint: only the new file is processed, idempotently
    _write_file(spark, [_row("pz", [ZWSP], "web", _mins(9))],
                os.path.join(src, "f2"), now - 100)
    q2 = pipeline.single_pass_pipeline(spark, src, out,
                                       str(tmp_path / "ck"),
                                       max_files_per_trigger=1)
    q2.awaitTermination(120)
    sink2 = read_sink(spark, os.path.join(out, "cleaned"))
    assert sink2.count() == 8
    assert sink2.select("doc_id").distinct().count() == 8
    dens2 = {k: v[2] for k, v in
             {(r["window_start"], r["source"]): (r["n_detections"],
                                                 r["n_hidden"], r["n_seq"])
              for r in pipeline.read_density(spark, out).collect()}.items()}
    assert dens2[(_mins(9), "web")] == 1


def test_iceberg_sink_clear_error_without_jars(spark, tmp_path):
    """Jar-absent sandbox: the Iceberg path fails fast with the recipe
    instead of an opaque ClassNotFound at query start."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        ICEBERG_PACKAGE, iceberg_sink)

    src = str(tmp_path / "in")
    os.makedirs(src)
    _write_file(spark, [_row("i1", [A], "web", _mins(0))],
                os.path.join(src, "f1"), time.time() - 100)
    tok = pipeline.read_token_stream(spark, src)
    with pytest.raises(RuntimeError, match=ICEBERG_PACKAGE.split(":")[0]):
        iceberg_sink(pipeline.clean_stream(tok), "lake.db.t",
                     str(tmp_path / "ck"))


def test_null_rows_do_not_crash_operators(spark):
    """ADVICE: a NULL text / NULL token list must not fail the job."""
    from hidden_characters_detector_spark.operators.clean import (
        clean_detect, clean_documents)

    docs = spark.createDataFrame(
        [("d1", "a​b"), ("d2", None), ("d3", "")],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in clean_documents(docs).collect()}
    assert out["d1"]["text_clean"] == "ab"
    assert out["d2"]["text_clean"] == ""   # null -> empty at the boundary
    assert out["d2"]["n_detected"] == 0
    assert out["d3"]["text_clean"] == ""

    toks = spark.createDataFrame(
        [("t1", [A, ZWSP], 2, "web", _mins(0)),
         ("t2", None, 0, "web", _mins(0))],
        pipeline.TOKEN_STREAM_SCHEMA)
    got = {r["doc_id"]: r["tokens_clean"] for r in
           clean_detect(toks).collect()}
    assert got["t1"] == [A]
    assert got["t2"] == []


def test_single_pass_pipeline_continuous_trigger(spark, tmp_path):
    """--no-available-now path: processing-time trigger drains files while
    running; stop after the manifests appear, sink + density consistent."""
    import json

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    for i in range(3):
        _write_file(spark, [_row(f"c{i}_{j}", [A, ZWSP], "web", _mins(i))
                            for j in range(5)],
                    os.path.join(src, f"f{i}"), now - 300 + i)

    q = pipeline.single_pass_pipeline(spark, src, out, str(tmp_path / "ck"),
                                      trigger_available_now=False,
                                      max_files_per_trigger=1)
    try:
        q.processAllAvailable()  # blocks until every staged file is drained
        assert q.exception() is None
    finally:
        q.stop()
    d = os.path.join(out, "cleaned")
    total = sum(json.load(open(os.path.join(d, m)))["rows"]
                for m in os.listdir(d) if m.startswith("_manifest"))
    assert total == 15
    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert sink.count() == 15
    assert sink.select("doc_id").distinct().count() == 15
    dens = pipeline.read_density(spark, out).agg(
        F.sum("n_detections"), F.sum("n_seq")).collect()[0]
    assert tuple(dens) == (15, 15)  # one ZWSP per sequence


def test_compact_sink(spark, tmp_path):
    """Small-files maintenance: batch dirs compact into one generation with
    an atomic publish; readback is identical before/after, newer batches
    union in, and a second compaction folds the old generation."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        compact_sink)

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    now = time.time()
    for i in range(4):
        _write_file(spark, [_row(f"m{i}_{j}", [A, ZWSP], "web", _mins(i))
                            for j in range(5)],
                    os.path.join(src, f"f{i}"), now - 300 + i)
    q = exactly_once_parquet_sink(
        pipeline.clean_stream(
            pipeline.read_token_stream(spark, src, max_files_per_trigger=1)),
        out, ck)
    q.awaitTermination(120)
    before = sorted(r["doc_id"] for r in read_sink(spark, out).collect())
    assert len(before) == 20

    # plan a reader against the PRE-compaction layout; collect it after —
    # the one-generation retention window keeps its input files alive
    pre_planned = read_sink(spark, out)

    info = compact_sink(spark, out, target_rows_per_file=10)
    assert info["rows"] == 20 and info["files"] == 2
    assert info["gen_seq"] == 1
    # superseded inputs are RETAINED until the next compaction (in-flight
    # reader grace window), but read_sink already masks them
    assert [d for d in os.listdir(out) if d.startswith("batch_id=")]
    after = sorted(r["doc_id"] for r in read_sink(spark, out).collect())
    assert after == before
    assert sorted(r["doc_id"] for r in pre_planned.collect()) == before

    # new batches after compaction union in at read time
    _write_file(spark, [_row("m_new", [ZWSP], "web", _mins(9))],
                os.path.join(src, "f_new"), now - 100)
    q2 = exactly_once_parquet_sink(
        pipeline.clean_stream(
            pipeline.read_token_stream(spark, src, max_files_per_trigger=1)),
        out, ck)
    q2.awaitTermination(120)
    with_new = read_sink(spark, out)
    assert with_new.count() == 21
    assert with_new.where("doc_id = 'm_new'").count() == 1

    # second compaction folds the previous generation + the new batch,
    # GCs the first compaction's retained inputs + superseded generation
    info2 = compact_sink(spark, out, target_rows_per_file=1000)
    assert info2["rows"] == 21 and info2["files"] == 1
    assert info2["gen_seq"] == 2
    left = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert all(int(d.split("=", 1)[1]) > info["up_to"] for d in left)
    gens = [d for d in os.listdir(out) if d.startswith("gen-")]
    assert "gen-000001" in gens                 # retained one generation
    assert read_sink(spark, out).count() == 21
    assert read_sink(spark, out).select("doc_id").distinct().count() == 21

    # third compaction: no new committed batches -> short-circuit, the
    # published generation is untouched (no rewrite/delete window at all)
    gen2 = os.path.join(out, "gen-000002")
    mtimes = {f: os.path.getmtime(os.path.join(gen2, f))
              for f in os.listdir(gen2)}
    info3 = compact_sink(spark, out, target_rows_per_file=1000)
    assert info3["gen_seq"] == 2 and info3["rows"] == 21
    assert mtimes == {f: os.path.getmtime(os.path.join(gen2, f))
                      for f in os.listdir(gen2)}


def test_compact_sink_recovers_from_first_compaction_crash(spark, tmp_path):
    """A crash between the generation-dir rename and the meta publish on
    the FIRST-ever compaction leaves an unpublished gen dir and no
    _compaction.json; the retry must GC the orphan instead of wedging on a
    non-empty os.replace target."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        compact_sink, write_batch_partition)

    out = str(tmp_path / "out")
    os.makedirs(out)
    df = spark.createDataFrame([("d0", 1), ("d1", 2)], "doc_id string, v int")
    write_batch_partition(df, 0, out)
    # simulate the crash artifact: gen dir exists, meta never published
    os.makedirs(os.path.join(out, "gen-000001"))
    with open(os.path.join(out, "gen-000001", "stale.parquet"), "w") as f:
        f.write("junk")

    info = compact_sink(spark, out, target_rows_per_file=1000)
    assert info["gen_seq"] == 1 and info["rows"] == 2
    assert read_sink(spark, out).count() == 2


def test_compact_sink_skips_uncommitted_batch(spark, tmp_path):
    """The manifest gate: a batch_id dir WITHOUT its manifest (an in-flight
    or crashed-mid-write batch) is never folded into a generation, and a
    post-crash replay of an already-compacted batch id is masked by
    read_sink and garbage-collected by the next compaction."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        compact_sink, write_batch_partition)

    out = str(tmp_path / "out")
    os.makedirs(out)
    df = spark.createDataFrame([("d0", 1), ("d1", 2)], "doc_id string, v int")
    write_batch_partition(df, 0, out)
    write_batch_partition(df.where("v = 1"), 1, out)
    # batch 2 "in flight": partition dir exists, manifest not yet written
    write_batch_partition(df, 2, out)
    os.remove(os.path.join(out, "_manifest_batch_2.json"))

    info = compact_sink(spark, out, target_rows_per_file=1000)
    assert info["up_to"] == 1 and info["rows"] == 3
    # the in-flight batch stays a live batch dir above the compaction
    # point; once its manifest lands it unions in at read time
    assert read_sink(spark, out).count() == 5
    write_batch_partition(df, 2, out)
    assert read_sink(spark, out).count() == 5  # overwrite, not duplicate

    # crash-replay of compacted batch 1 (manifest + dir reappear) is
    # masked at read time and GC'd by the next compaction
    write_batch_partition(df.where("v = 1"), 1, out)
    assert read_sink(spark, out).count() == 5
    info2 = compact_sink(spark, out, target_rows_per_file=1000)
    assert info2["up_to"] == 2 and info2["rows"] == 5
    info3 = compact_sink(spark, out, target_rows_per_file=1000)
    assert info3["rows"] == 5
    assert not os.path.exists(os.path.join(out, "batch_id=1"))
    assert read_sink(spark, out).count() == 5


def test_marker_rate_anomalies(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-source EWMA of
    the marker rate flags a burst batch; state survives checkpoint resume."""
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    now = time.time()
    # batch 1: steady rate 1.0 (one ZWSP per sequence); batch 2: one
    # sequence carrying 4 markers -> rate 4.0 >> 1.8x EWMA -> alert.
    # (kept to 3 micro-batches total: each stateful batch costs ~40 s of
    # python state-worker startup on this VM)
    _write_file(spark, [_row(f"n{j}", [A, ZWSP], "web", _mins(0))
                        for j in range(4)],
                os.path.join(src, "f0"), now - 300)
    _write_file(spark, [_row("burst", [ZWSP, ZWSP, ZWSP, ZWSP], "web",
                             _mins(5))],
                os.path.join(src, "f_burst"), now - 200)

    out = str(tmp_path / "out")

    def start():
        # memory sinks cannot recover from checkpoints (CLAUDE.md landmine)
        # -> resume-capable foreachBatch parquet sink.  Pin the state
        # partition count low: 8 state partitions x python workers per
        # micro-batch is all fixed cost for a 1-key stream on this VM.
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            tok = pipeline.read_token_stream(spark, src,
                                             max_files_per_trigger=1)
            an = pipeline.marker_rate_anomalies(
                pipeline.clean_stream(tok), alpha=0.5, threshold=1.8,
                min_batches=1)
            return exactly_once_parquet_sink(an, out, ck, query_name="anom")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def fetch():
        return sorted(
            (r for r in read_sink(spark, out).collect()
             if r["source"] == "web"),
            key=lambda r: r["n_batches_seen"])

    q = start()
    assert q.awaitTermination(420), "first drain did not finish"
    rows = fetch()
    assert [r["n_batches_seen"] for r in rows] == [1, 2]
    assert abs(rows[0]["rate"] - 1.0) < 1e-9
    assert not rows[0]["is_anomaly"]  # no baseline yet
    burst = rows[1]
    # ZWSP,ZWSP,ZWSP,ZWSP -> n_detected=4, n_seq=1 -> rate 4.0 >> 1.8*1.0
    assert burst["rate"] == 4.0 and burst["is_anomaly"]
    assert abs(burst["ewma_prev"] - 1.0) < 1e-9

    # resume from checkpoint: the EWMA state (count, value) carries over
    _write_file(spark, [_row("post", [A, ZWSP], "web", _mins(6))],
                os.path.join(src, "f_post"), now - 100)
    q2 = start()
    assert q2.awaitTermination(420), "resume drain did not finish"
    rows2 = fetch()
    assert rows2[-1]["n_batches_seen"] == 3  # state survived the restart
    # ewma after burst = 0.5*4.0 + 0.5*1.0 = 2.5; rate 1.0 not anomalous
    assert abs(rows2[-1]["ewma_prev"] - 2.5) < 1e-9
    assert not rows2[-1]["is_anomaly"]


def test_compact_sink_never_masks_unmanifested_lower_batch(spark, tmp_path):
    """Gap safety: if a batch dir with id BELOW the highest manifested id
    lacks its manifest (out-of-order manifests — a second writer or a
    non-serial replay), compaction must stop at the gap rather than set
    up_to past it (which would mask the batch at read time and GC it on the
    next run — silent loss)."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        compact_sink, write_batch_partition)

    out = str(tmp_path / "out")
    os.makedirs(out)
    df = spark.createDataFrame([("d0", 1), ("d1", 2)], "doc_id string, v int")
    write_batch_partition(df, 0, out)
    write_batch_partition(df, 1, out)  # manifest removed below (the gap)
    write_batch_partition(df, 2, out)  # manifested, ABOVE the gap
    os.remove(os.path.join(out, "_manifest_batch_1.json"))

    info = compact_sink(spark, out, target_rows_per_file=1000)
    # up_to stops BELOW the gap: batch 2 is not folded in even though its
    # manifest exists, because folding it would put up_to past batch 1
    assert info["up_to"] == 0 and info["rows"] == 2
    # batches 1 and 2 stay live dirs; batch 1's rows are still visible the
    # moment its manifest lands
    write_batch_partition(df, 1, out)
    assert read_sink(spark, out).count() == 6
    info2 = compact_sink(spark, out, target_rows_per_file=1000)
    assert info2["up_to"] == 2 and info2["rows"] == 6
    assert read_sink(spark, out).count() == 6


def test_single_pass_pipeline_quarantines_bad_records(spark, tmp_path):
    """The typed-source error path (the reference skips undecodable files
    and counts them, ref :604-631): schema-valid but semantically null rows
    route to <out>/quarantine with a reason and an observed-metric count;
    the clean sink and density partials see only valid rows; the original
    record (including the raw tokens array) is preserved verbatim."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    rows = [
        _row("g0", [A, ZWSP, A], "web", _mins(0)),        # valid
        _row("g1", [QUOTE, A], "books", _mins(1)),        # valid
        (None, [A], 1, "web", _mins(0)),                  # null doc_id
        ("", [A], 1, "web", _mins(0)),                    # empty doc_id
        ("b_tok", None, 0, "web", _mins(0)),              # null tokens
        ("b_time", [A, ZWSP], 2, "web", None),            # null event_time
        ("b_len", [A, A, A], 7, "web", _mins(2)),         # n_tok mismatch
    ]
    _write_file(spark, rows, os.path.join(src, "f1"), now - 300)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = pipeline.single_pass_pipeline(spark, src, out,
                                          str(tmp_path / "ck"))
        q.awaitTermination(120)
    finally:
        spark.streams.removeListener(rec)

    # clean sink: only the two valid rows, cleaned as usual, schema free of
    # quarantine plumbing columns
    sink = read_sink(spark, os.path.join(out, "cleaned"))
    got = {r["doc_id"]: r["tokens_clean"] for r in sink.collect()}
    assert got == {"g0": [A, A], "g1": [ord("'"), A]}
    assert "quarantine_reason" not in sink.columns
    assert "tokens_raw" not in sink.columns

    # quarantine: one row per bad record, original payload intact
    quar = {r["doc_id"]: r for r in
            pipeline.read_quarantine(spark, out).collect()}
    assert {quar[k]["quarantine_reason"] for k in quar} >= {
        "null_doc_id", "null_tokens", "null_event_time", "n_tok_mismatch"}
    assert len(quar) == 5
    assert quar[None]["quarantine_reason"] == "null_doc_id"
    assert quar[""]["quarantine_reason"] == "null_doc_id"
    assert quar["b_tok"]["quarantine_reason"] == "null_tokens"
    assert quar["b_tok"]["tokens"] is None            # preserved verbatim
    assert quar["b_time"]["quarantine_reason"] == "null_event_time"
    assert quar["b_time"]["tokens"] == [A, ZWSP]      # raw array kept
    assert quar["b_len"]["quarantine_reason"] == "n_tok_mismatch"
    assert quar["b_len"]["n_tok"] == 7

    # density partials built from valid rows only
    dens = pipeline.read_density(spark, out)
    assert dens.agg(F.sum("n_seq")).collect()[0][0] == 2

    # telemetry: the observed metric counts the quarantined rows
    deadline = time.time() + 30
    while (rec.observed("clean_metrics", "n_quarantined") < 5
           and time.time() < deadline):
        time.sleep(0.5)
    assert rec.observed("clean_metrics", "n_quarantined") == 5
    assert rec.observed("clean_metrics", "n_seq") == 7


def test_quarantine_survives_source_log_compaction(spark, tmp_path):
    """Every compactInterval-th batch the file source writes its WAL entry
    as <id>.compact (a cumulative log) instead of <id>; the quarantine
    gate must resolve those batches' file lists too — a regression here
    silently DROPS bad rows from both sinks on every Nth batch."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    prev = spark.conf.get("spark.sql.streaming.fileSource.log"
                          ".compactInterval", "10")
    spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval",
                   "2")
    try:
        # one good + one bad row per file; maxFilesPerTrigger=1 makes one
        # batch per file, so batches 1 and 3 are compact batches
        for i in range(4):
            _write_file(spark,
                        [_row(f"g{i}", [A, ZWSP], "web", _mins(i)),
                         (f"b{i}", None, 0, "web", _mins(i))],
                        os.path.join(src, f"f{i}"), now - 300 + i)
        q = pipeline.single_pass_pipeline(spark, src, out,
                                          str(tmp_path / "ck"),
                                          max_files_per_trigger=1)
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.streaming.fileSource.log"
                       ".compactInterval", prev)
    # WAL form sanity: at least one batch actually used the compact form
    wal_dir = os.path.join(str(tmp_path / "ck"), "sources", "0")
    assert any(f.endswith(".compact") for f in os.listdir(wal_dir))
    quar = sorted(r["doc_id"] for r in
                  pipeline.read_quarantine(spark, out).collect())
    assert quar == ["b0", "b1", "b2", "b3"]   # none lost to compaction
    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert sorted(r["doc_id"] for r in sink.collect()) == \
        ["g0", "g1", "g2", "g3"]


def test_quarantine_compacts_and_reads_back(spark, tmp_path):
    """Quarantine batch dirs carry the main sink's manifest contract, so
    compact_sink folds them into a generation and read_quarantine (via
    read_sink) returns identical rows before and after — plus newer
    batches union in."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        compact_sink)

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    for i in range(3):
        _write_file(spark,
                    [_row(f"g{i}", [A], "web", _mins(i)),
                     (f"b{i}", None, 0, "web", _mins(i))],
                    os.path.join(src, f"f{i}"), now - 300 + i)
    q = pipeline.single_pass_pipeline(spark, src, out,
                                      str(tmp_path / "ck"),
                                      max_files_per_trigger=1)
    q.awaitTermination(180)
    qdir = os.path.join(out, "quarantine")
    before = sorted(r["doc_id"] for r in
                    pipeline.read_quarantine(spark, out).collect())
    assert before == ["b0", "b1", "b2"]
    assert any(f.startswith("_manifest_batch_")
               for f in os.listdir(qdir))

    info = compact_sink(spark, qdir, target_rows_per_file=1000)
    assert info["rows"] == 3 and info["gen_seq"] == 1
    after = sorted(r["doc_id"] for r in
                   pipeline.read_quarantine(spark, out).collect())
    assert after == before

    # a later run adds a new bad batch: unions in above the compaction
    _write_file(spark, [("b3", None, 0, "web", _mins(9))],
                os.path.join(src, "f3"), now - 100)
    q2 = pipeline.single_pass_pipeline(spark, src, out,
                                       str(tmp_path / "ck"),
                                       max_files_per_trigger=1)
    q2.awaitTermination(180)
    final = sorted(r["doc_id"] for r in
                   pipeline.read_quarantine(spark, out).collect())
    assert final == ["b0", "b1", "b2", "b3"]


def test_dict_join_batch_streaming_parity(spark, tmp_path):
    """The batch interval-join analog (the one the driver's oracle gate
    exercises) must produce EXACTLY the stream-stream join's rows for the
    same events and the same dictionary content — the parity that makes
    the batch contract query meaningful evidence about the stateful
    operator."""
    ev_src = str(tmp_path / "ev")
    dc_src = str(tmp_path / "dict")
    os.makedirs(ev_src)
    now = time.time()
    confusable_dict.write_dict_batches(spark, dc_src, T0, n_batches=3)
    _write_file(spark, [
        _row("dj", [QUOTE, ZWSP, A], "web", _mins(12)),
        _row("early", [QUOTE], "web", T0 - dt.timedelta(minutes=90)),
        _row("edge", [ZWSP], "web", _mins(64)),   # 59min into ZWSP's v
    ], os.path.join(ev_src, "f1"), now - 300)
    _write_file(spark, [_row("push", [A], "web", _mins(50))],
                os.path.join(ev_src, "f2"), now - 200)

    cols = ["doc_id", "source", "event_time", "token", "marker_type",
            "replacement", "valid_from"]

    def key(rows):
        return sorted((r["doc_id"], r["source"], r["event_time"],
                       r["token"], r["marker_type"],
                       tuple(r["replacement"]), r["valid_from"])
                      for r in rows)

    tok_s = pipeline.read_token_stream(spark, ev_src,
                                       max_files_per_trigger=1)
    joined_s = pipeline.confusable_dict_join(
        pipeline.event_stream(tok_s),
        confusable_dict.read_dict_stream(spark, dc_src), validity="1 hour")
    q = (joined_s.writeStream.format("memory").queryName("djp")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    stream_rows = key(spark.sql("select * from djp").collect())

    tok_b = spark.read.schema(pipeline.TOKEN_STREAM_SCHEMA).parquet(ev_src)
    joined_b = pipeline.confusable_dict_join_batch(
        pipeline.event_stream(tok_b),
        confusable_dict.static_dict(spark, T0), validity="1 hour")
    batch_rows = key(joined_b.select(
        "doc_id", "source", "event_time", "token", "marker_type",
        F.col("dict_replacement").alias("replacement"),
        "valid_from").collect())

    assert stream_rows == batch_rows
    assert len(stream_rows) >= 3        # dj x2 + edge actually matched


def test_quarantine_gate_with_file_scheme_checkpoint(spark, tmp_path):
    """The WAL read goes through the Hadoop FileSystem API (the
    checkpoint's own scheme resolves the implementation), so the gate works
    under a scheme-qualified checkpoint URI — r4 restricted it to bare
    local paths and raised on any scheme."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    _write_file(spark, [_row("g0", [A, ZWSP, A], "web", _mins(0)),
                        ("b_tok", None, 0, "web", _mins(0))],
                os.path.join(src, "f1"), now - 300)
    ck = "file://" + str(tmp_path / "ck")
    q = pipeline.single_pass_pipeline(spark, src, out, ck)
    q.awaitTermination(120)
    quar = {r["doc_id"]: r["quarantine_reason"]
            for r in pipeline.read_quarantine(spark, out).collect()}
    assert quar == {"b_tok": "null_tokens"}
    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert {r["doc_id"] for r in sink.collect()} == {"g0"}


def test_single_pass_pipeline_decontam_gate(spark, tmp_path):
    """Streaming ingestion decontamination: rows sharing a token 20-gram
    with the broadcast eval set never reach the kernel or the clean sink,
    and the drop count surfaces as an observed metric."""
    from hidden_characters_detector_spark.operators.decontam import (
        build_eval_filter)

    clean_toks = [ord(c) for c in "abcdefghijklmnopqrstuvwxyz012345"]
    leak_toks = [ord(c) for c in "THE LEAKED BENCHMARK QUESTION TEXT 99"]
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    _write_file(spark, [_row("g0", clean_toks, "web", _mins(0)),
                        _row("leak", leak_toks, "web", _mins(1)),
                        # contaminated AND quarantine-bad (null time):
                        # must reach NEITHER sink — quarantine rows come
                        # from the gated stream
                        ("leakbad", leak_toks, len(leak_toks), "web",
                         None),
                        # bad-but-clean: still quarantined as usual
                        ("b_time", clean_toks, len(clean_toks), "web",
                         None)],
                os.path.join(src, "f1"), now - 300)
    evl = spark.createDataFrame([("e0", leak_toks[3:27])],
                                "doc_id string, tokens array<int>")
    bc = build_eval_filter(spark, evl, k=20)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = pipeline.single_pass_pipeline(spark, src, out,
                                          str(tmp_path / "ck"),
                                          decontam_eval=bc)
        q.awaitTermination(120)
    finally:
        spark.streams.removeListener(rec)

    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert {r["doc_id"] for r in sink.collect()} == {"g0"}
    quar = {r["doc_id"]: r["quarantine_reason"]
            for r in pipeline.read_quarantine(spark, out).collect()}
    assert quar == {"b_time": "null_event_time"}   # leakbad in NO sink
    deadline = time.time() + 30
    while (rec.observed("decontam_metrics", "n_contaminated") < 2
           and time.time() < deadline):
        time.sleep(0.5)
    assert rec.observed("decontam_metrics", "n_contaminated") == 2
    assert rec.observed("clean_metrics", "n_quarantined") == 1


def test_single_pass_pipeline_history_bloom_gate(spark, tmp_path):
    """Cross-snapshot ingestion dedup: rows whose token arrays are in the
    previous snapshot's Bloom filter never reach the kernel or the clean
    sink (zero false negatives by construction), the drop count surfaces
    as an observed metric, and a history row that is ALSO quarantine-bad
    reaches neither sink (quarantine rows come from the gated stream)."""
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.operators import bloom

    old_toks = [ord(c) for c in "THE PREVIOUS SNAPSHOT SEQUENCE AAAA"]
    new_toks = [ord(c) for c in "abcdefghijklmnopqrstuvwxyz012345"]
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    _write_file(spark, [_row("fresh", new_toks, "web", _mins(0)),
                        _row("seen", old_toks, "web", _mins(1)),
                        # in-history AND quarantine-bad (null time):
                        # must reach NEITHER sink
                        ("seenbad", old_toks, len(old_toks), "web", None),
                        # bad-but-novel: still quarantined as usual
                        ("b_time", new_toks, len(new_toks) + 1, "web",
                         _mins(2))],
                os.path.join(src, "f1"), now - 300)
    hist = spark.createDataFrame([("h0", old_toks)],
                                 "doc_id string, tokens array<int>")
    m, k = 1 << 12, 5
    bits = bloom.bloom_build(
        hist.select(F.col("tokens").cast("string").alias("key")),
        "key", m=m, k=k)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = pipeline.single_pass_pipeline(spark, src, out,
                                          str(tmp_path / "ck"),
                                          history_bloom=(bits, m, k))
        q.awaitTermination(120)
    finally:
        spark.streams.removeListener(rec)

    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert {r["doc_id"] for r in sink.collect()} == {"fresh"}
    quar = {r["doc_id"]: r["quarantine_reason"]
            for r in pipeline.read_quarantine(spark, out).collect()}
    assert quar == {"b_time": "n_tok_mismatch"}   # seenbad in NO sink
    deadline = time.time() + 30
    while (rec.observed("history_metrics", "n_history_dropped") < 2
           and time.time() < deadline):
        time.sleep(0.5)
    assert rec.observed("history_metrics", "n_history_dropped") == 2
    assert rec.observed("clean_metrics", "n_quarantined") == 1


def test_sink_scheme_guard_and_file_uri_normalization(spark, tmp_path):
    """The parquet manifest sink is the documented POSIX local-mode
    stand-in for Iceberg: a file:// output URI normalizes and works end
    to end; a remote scheme is refused LOUDLY up front (Spark would write
    the data files, then the manifest open() would fail mid-batch — or
    rmtree would silently no-op)."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        read_sink, write_batch_partition)

    out_uri = "file://" + str(tmp_path / "out")
    df = spark.createDataFrame([("d0", 1)], "doc_id string, v int")
    n = write_batch_partition(df, 0, out_uri)
    assert n == 1
    assert read_sink(spark, out_uri).count() == 1
    with pytest.raises(ValueError, match="iceberg_sink"):
        write_batch_partition(df, 1, "s3a://bucket/out")
    with pytest.raises(ValueError, match="iceberg_sink"):
        pipeline.single_pass_pipeline(
            spark, str(tmp_path / "in"), "hdfs://nn/out",
            str(tmp_path / "ck"))
    # a colon WITHOUT '://' is not read as a scheme by OUR guard (it
    # passes through; Hadoop's own Path parser rejects such paths with
    # its own loud error, same as any Spark write) — but a file:// URI
    # naming a remote host IS refused here, before any data lands
    from hidden_characters_detector_spark.sinks.exactly_once import (
        _posix_dir)
    assert _posix_dir("out:colon/x") == "out:colon/x"
    with pytest.raises(ValueError, match="remote host"):
        write_batch_partition(df, 0, "file://otherhost/tmp/x")


def test_single_pass_pipeline_one_job_per_batch(spark, tmp_path):
    """Each micro-batch launches exactly one Spark job of its own — the
    kernel task that stages the sink, quarantine and density files — under
    the job group ``<query_name>/batch=<N>``: no quarantine re-scan and no
    density re-read."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    for i in range(3):
        _write_file(spark, [_row(f"g{i}", [A, ZWSP], "web", _mins(i)),
                            (f"b{i}", None, 0, "web", _mins(i))],
                    os.path.join(src, f"f{i}"), now - 300 + i)
    q = pipeline.single_pass_pipeline(spark, src, out, str(tmp_path / "ck"),
                                      max_files_per_trigger=1,
                                      query_name="one-job")
    q.awaitTermination(180)
    assert q.exception() is None
    tracker = spark.sparkContext.statusTracker()
    jobs = {b: tracker.getJobIdsForGroup(f"one-job/batch={b}")
            for b in range(3)}
    assert all(len(ids) == 1 for ids in jobs.values()), jobs
    assert len(pipeline.read_quarantine(spark, out).collect()) == 3


def test_single_pass_pipeline_one_wave_per_batch(spark, tmp_path):
    """A batch whose file scan plans more partitions than the session has
    task slots still runs as one stage of at most one task per slot: each
    Python task pays a fixed start-up cost, which a second wave repeats."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    n_files = 9
    for i in range(n_files):
        _write_file(spark, [_row(f"g{i}", [A, ZWSP], "web", _mins(i))],
                    os.path.join(src, f"f{i}"), now - 300 + i)
    jsc = spark.sparkContext._jsc.sc()
    slots = jsc.maxNumConcurrentTasks(
        jsc.resourceProfileManager().defaultResourceProfile())
    planned = (spark.read.schema(pipeline.TOKEN_STREAM_SCHEMA).parquet(src)
               .rdd.getNumPartitions())
    assert planned > slots, (planned, slots)
    q = pipeline.single_pass_pipeline(spark, src, out, str(tmp_path / "ck"),
                                      query_name="one-wave")
    q.awaitTermination(180)
    assert q.exception() is None
    tracker = spark.sparkContext.statusTracker()
    (job,) = tracker.getJobIdsForGroup("one-wave/batch=0")
    stages = [tracker.getStageInfo(s)
              for s in tracker.getJobInfo(job).stageIds]
    assert len(stages) == 1 and stages[0].numTasks <= slots, \
        [(s.stageId, s.numTasks) for s in stages]
    sink = read_sink(spark, os.path.join(out, "cleaned"))
    assert sorted(r["doc_id"] for r in sink.collect()) == \
        [f"g{i}" for i in range(n_files)]


def _plant_orphans(out):
    """Staged files a failed task attempt or a crash before publish would
    leave behind: well-formed, named like live ones, never collected."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    staging = os.path.join(out, "_staging")
    os.makedirs(staging, exist_ok=True)
    ghost = pa.table({"doc_id": ["ghost"], "n_tok": pa.array([1], pa.int32())})
    for kind in ("cleaned", "quarantine", "density"):
        pq.write_table(ghost, os.path.join(
            staging, f"{kind}-00000-999999-{os.urandom(6).hex()}.parquet"))


def test_single_pass_pipeline_publishes_only_collected_files(spark,
                                                             tmp_path):
    """The commit publishes exactly the files the batch's tasks reported:
    planted orphan staged files are never published and are deleted; a
    batch replayed after a crash between publish and checkpoint commit is
    published once (replaced, not duplicated); a batch with no good rows
    still leaves readable, schema-carrying sink and density directories."""
    import json

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    now = time.time()
    # batch 0: only bad rows; batch 1: good and bad rows
    _write_file(spark, [("b0", None, 0, "web", _mins(0))],
                os.path.join(src, "f0"), now - 300)
    _write_file(spark, [_row("g0", [A, ZWSP], "web", _mins(1)),
                        _row("g1", [QUOTE], "books", _mins(1)),
                        ("b1", [A], 5, "web", _mins(1))],
                os.path.join(src, "f1"), now - 200)

    def run():
        _plant_orphans(out)
        q = pipeline.single_pass_pipeline(spark, src, out, ck,
                                          max_files_per_trigger=1)
        q.awaitTermination(180)
        assert q.exception() is None
        assert not os.path.exists(os.path.join(out, "_staging"))
        sink = read_sink(spark, os.path.join(out, "cleaned"))
        quar = pipeline.read_quarantine(spark, out)
        dens = pipeline.read_density(spark, out)
        return (sorted(r["doc_id"] for r in sink.collect()),
                sorted(r["doc_id"] for r in quar.collect()),
                sorted(tuple(r) for r in dens.collect()))

    first = run()
    assert first[0] == ["g0", "g1"] and first[1] == ["b0", "b1"]
    assert sum(r[-1] for r in first[2]) == 2          # n_seq of good rows
    empty = spark.read.parquet(os.path.join(out, "cleaned", "batch_id=0"))
    assert empty.count() == 0 and "tokens_clean" in empty.columns
    with open(os.path.join(out, "cleaned", "_manifest_batch_0.json")) as f:
        assert json.load(f)["rows"] == 0
    dens0 = spark.read.parquet(os.path.join(out, "density", "batch_id=0"))
    assert dens0.count() == 0 and "n_detections" in dens0.columns

    # crash after publishing batch 1 but before its checkpoint commit:
    # the restart replays batch 1 with new orphans lying around
    for name in ("1", ".1.crc"):
        path = os.path.join(ck, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    assert run() == first
    with open(os.path.join(out, "cleaned", "_manifest_batch_1.json")) as f:
        assert json.load(f)["rows"] == 2


@pytest.mark.parametrize("window", ["1 minute", "7 seconds", "1 hour"])
def test_single_pass_density_matches_f_window(spark, tmp_path, window):
    """Density partials use Spark's own window assignment: the folded
    totals equal a batch ``F.window`` aggregation, pre-epoch timestamps
    included (a truncating modulo would put them one window late)."""
    from hidden_characters_detector_spark.operators.clean import clean_detect

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    times = [dt.datetime(1960, 5, 5, 1, 2, 3, 456789),
             dt.datetime(1969, 12, 31, 23, 59, 30),
             dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
             dt.datetime(1970, 1, 1), dt.datetime(1970, 1, 1, 0, 0, 7),
             _mins(0.5), _mins(61)]
    rows = [_row(f"w{i}", [A, ZWSP] * (i + 1), ("web", "books")[i % 2], t)
            for i, t in enumerate(times)]
    _write_file(spark, rows, os.path.join(src, "f1"), time.time() - 300)
    q = pipeline.single_pass_pipeline(spark, src, out, str(tmp_path / "ck"),
                                      window=window)
    q.awaitTermination(120)
    got = {(r["window_start"], r["window_end"], r["source"]):
           (r["n_detections"], r["n_hidden"], r["n_seq"])
           for r in pipeline.read_density(spark, out).collect()}
    batch = spark.read.schema(pipeline.TOKEN_STREAM_SCHEMA).parquet(src)
    want = {(r["w"]["start"], r["w"]["end"], r["source"]):
            (r["nd"], r["nh"], r["ns"])
            for r in (clean_detect(batch)
                      .groupBy(F.window("event_time", window).alias("w"),
                               "source")
                      .agg(F.sum("n_detected").alias("nd"),
                           F.sum("n_hidden").alias("nh"),
                           F.count("*").alias("ns"))).collect()}
    assert got == want and len(want) >= 4


def test_single_pass_density_folds_across_arrow_batches(spark, tmp_path):
    """A task that receives several Arrow batches folds their density
    partials as it goes: its one density file holds one row per (window,
    source), and the totals still equal a batch ``F.window`` aggregation.
    The rows of each (window, source) are spread over several batches."""
    import pyarrow.parquet as pq

    from hidden_characters_detector_spark.operators.clean import clean_detect

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    rows = [_row(f"r{i}", [A, ZWSP] * (i % 3 + 1), ("web", "books")[i % 2],
                 _mins(i % 4 // 2 + 0.25))
            for i in range(13)]
    rows.append(("late", _toks([QUOTE]), 1, "web", None))  # quarantined
    _write_file(spark, rows, os.path.join(src, "f1"), time.time() - 300)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        q = pipeline.single_pass_pipeline(spark, src, out,
                                          str(tmp_path / "ck"))
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, old)
    assert q.exception() is None
    dens_dir = os.path.join(out, "density", "batch_id=0")
    (name,) = [f for f in os.listdir(dens_dir) if f.endswith(".parquet")]
    staged = pq.read_table(os.path.join(dens_dir, name)).to_pylist()
    keys = [(r["window_start"], r["source"]) for r in staged]
    assert len(keys) == len(set(keys)) == 4
    got = {(r["window_start"], r["source"]):
           (r["n_detections"], r["n_hidden"], r["n_seq"])
           for r in pipeline.read_density(spark, out).collect()}
    batch = spark.read.schema(pipeline.TOKEN_STREAM_SCHEMA).parquet(src)
    want = {(r["w"]["start"], r["source"]): (r["nd"], r["nh"], r["ns"])
            for r in (clean_detect(batch)
                      .groupBy(F.window("event_time", "1 minute").alias("w"),
                               "source")
                      .agg(F.sum("n_detected").alias("nd"),
                           F.sum("n_hidden").alias("nh"),
                           F.count("*").alias("ns"))
                      .where(F.col("w").isNotNull())).collect()}
    assert got == want and sum(v[2] for v in got.values()) == 13


def test_quarantine_compaction_with_sparse_batch_ids(spark, tmp_path):
    """Quarantine batch dirs are SPARSE (clean batches write none): the
    compaction gap rule must treat a missing dir as 'nothing to fold', not
    as a gap, and fold the manifested dirs around it."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        compact_sink)

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    now = time.time()
    # batch 0: bad; batch 1: CLEAN (no quarantine dir); batch 2: bad
    _write_file(spark, [(None, [A], 1, "web", _mins(0))],
                os.path.join(src, "f0"), now - 300)
    _write_file(spark, [_row("g1", [A], "web", _mins(1))],
                os.path.join(src, "f1"), now - 200)
    _write_file(spark, [("b2", None, 0, "web", _mins(2))],
                os.path.join(src, "f2"), now - 100)
    q = pipeline.single_pass_pipeline(spark, src, out,
                                      str(tmp_path / "ck"),
                                      max_files_per_trigger=1)
    q.awaitTermination(180)
    qdir = os.path.join(out, "quarantine")
    dirs = sorted(d for d in os.listdir(qdir) if d.startswith("batch_id="))
    assert dirs == ["batch_id=0", "batch_id=2"]   # sparse by design

    info = compact_sink(spark, qdir, target_rows_per_file=1000)
    assert info["up_to"] == 2 and info["rows"] == 2
    got = sorted(((r["doc_id"] or ""), r["quarantine_reason"]) for r in
                 pipeline.read_quarantine(spark, out).collect())
    assert got == [("", "null_doc_id"), ("b2", "null_tokens")]


def test_backfill_manifests_unblocks_compaction(spark, tmp_path):
    """Batch dirs that predate the manifest contract block the compaction
    gate forever (the gap rule reads them as in-flight); the post-drain
    backfill writes footer-count manifests so they fold in."""
    from hidden_characters_detector_spark.sinks.exactly_once import (
        backfill_manifests, compact_sink, write_batch_partition)

    out = str(tmp_path / "out")
    os.makedirs(out)
    df = spark.createDataFrame([("d0", 1), ("d1", 2)],
                               "doc_id string, v int")
    write_batch_partition(df, 0, out)
    write_batch_partition(df, 1, out)
    os.remove(os.path.join(out, "_manifest_batch_0.json"))  # legacy dir

    info = compact_sink(spark, out, target_rows_per_file=1000)
    assert info["up_to"] == -1 and info["rows"] == 0   # gate blocks

    assert backfill_manifests(out) == 1
    info2 = compact_sink(spark, out, target_rows_per_file=1000)
    assert info2["up_to"] == 1 and info2["rows"] == 4
    assert read_sink(spark, out).count() == 4
