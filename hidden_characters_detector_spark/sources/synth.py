"""Deterministic synthetic token-table source.

BASELINE.json ``input_hint`` fixes the engine's input shape:
``doc_id:string, tokens:array<int32>, n_tok:int32, source:string`` (we add
``event_time`` for windowing, derived deterministically).  This module builds
that table from the driver's ``documents.parquet`` text — seeded (default 42),
partition-order independent (every decision is a pure function of doc_id and
token position), no external data.

Text <-> token conversion is vectorized via the UTF-32 trick: a whole Arrow
batch of strings is joined, encoded to ``utf-32-le`` and reinterpreted as one
``uint32`` numpy array (and back), so there is no per-row Python.

Marker injection mirrors FIXTURES.md's pattern matrix: a deterministic
per-token hash decides injection points; injected codepoints are drawn from a
pool covering every marker family (hidden / typographic / IVS / dead-rule
chars), plus a leading-BOM subset of docs; ``source`` is a zipf-skewed
categorical so source-keyed shuffles are genuinely skewed (north_rule skew
handling).
"""

from __future__ import annotations

import codecs
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# every marker family is represented (SURVEY.md §2.2 families + dead rules)
INJECT_POOL = np.array(
    [0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF, 0x00A0, 0x202F, 0x00AD,
     0x202E, 0x202A, 0x202C, 0x2066, 0x2069, 0x2063, 0xFE00, 0xFE0F,
     0x180B, 0x2000, 0x2009, 0x3000,
     0x2013, 0x2014, 0x2018, 0x2019, 0x201C, 0x201D, 0x2025, 0x2024,
     0x00B7, 0x2032, 0xFF01, 0xFF1A, 0x037E, 0x060C, 0x2044, 0x2059,
     0x0410, 0x0421, 0x0430, 0x0441, 0x043E, 0x0440, 0x03BF, 0x0391,
     0x2026, 0x2022,               # dead rules: never detected
     0xE0100, 0xE0155, 0xE01EF],   # IVS range endpoints + middle
    dtype=np.int64)

SOURCES = ("web", "books", "code", "chat", "wiki")
# zipf-ish cumulative percentage cut points over hash mod 100
_SOURCE_CUTS = np.array([55, 75, 87, 95, 100])

BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche; deterministic, vectorized."""
    x = (x + _MIX).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return x ^ (x >> np.uint64(31))


def strings_to_flat_tokens(texts: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Arrow string array -> (flat codepoints int64, offsets int64).

    NULL text values are treated as empty strings (explicit fill at the
    operator boundary, so a null row can't crash the whole job with an
    opaque ``TypeError`` from ``str.join``).
    """
    if texts.null_count:
        texts = pc.fill_null(texts, "")
    joined = "".join(texts.to_pylist())  # single allocation per batch
    flat = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
        np.int64)
    lens = pc.utf8_length(texts).to_numpy(zero_copy_only=False)
    offsets = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    return flat, offsets


def _int32_offsets(offsets: np.ndarray, what: str) -> pa.Array:
    """Arrow int32 offsets.  Spark bounds Arrow batches well below 2^31, so
    reaching it means a broken batch-size config: fail loudly rather than
    emit a large type that would not match the declared schema."""
    if offsets[-1] >= 2**31:
        raise ValueError(
            f"Arrow batch too large for {what} offsets ({int(offsets[-1])});"
            " lower spark.sql.execution.arrow.maxRecordsPerBatch")
    return pa.array(offsets, type=pa.int64()).cast(pa.int32())


def flat_tokens_to_strings(flat: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """(flat codepoints, offsets) -> Arrow string array: one decode and one
    UTF-8 encode per batch; a row's byte offset adds the extra bytes (1-3)
    of the non-ASCII codepoints before it."""
    cps = np.ascontiguousarray(flat, dtype="<u4")
    text = codecs.utf_32_le_decode(cps)[0]
    data = text.encode("utf-8")
    byte_offsets = offsets
    if len(data) != len(text):
        wide = np.flatnonzero(cps >= 0x80)
        extra = (1 + (cps[wide] >= 0x800).astype(np.int64)
                 + (cps[wide] >= 0x10000))
        byte_offsets = offsets + np.concatenate([[0], np.cumsum(extra)])[
            np.searchsorted(wide, offsets)]
    return pa.StringArray.from_buffers(
        len(offsets) - 1, _int32_offsets(byte_offsets, "string").buffers()[1],
        pa.py_buffer(data))


def list_offsets(col: pa.Array) -> np.ndarray:
    """Row offsets (int64, R+1) into ``col.flatten()`` for an Arrow list
    array of any value type.  Slice- and NULL-safe: NULL lists count as
    empty (``flatten()`` skips null slots, so filling their lengths with 0
    keeps offsets aligned with the values)."""
    lengths = col.value_lengths()
    if lengths.null_count:
        lengths = pc.fill_null(lengths, 0)
    return np.concatenate([[0], np.cumsum(
        lengths.to_numpy(zero_copy_only=False), dtype=np.int64)])


def lists_to_flat_tokens(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Arrow ``list<int32>`` array -> (flat values, offsets int64); NULL
    lists count as empty.  The values are the native int32 buffer, not a
    copy."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.flatten().to_numpy(zero_copy_only=False), list_offsets(col)


def flat_tokens_to_lists(values: np.ndarray, offsets: np.ndarray,
                         mask: np.ndarray | None = None) -> pa.ListArray:
    """(flat values, offsets) -> Arrow ``list<int32>`` array; rows where
    ``mask`` is True are NULL."""
    return pa.ListArray.from_arrays(
        _int32_offsets(offsets, "list<int32>"),
        pa.array(values).cast(pa.int32()),
        mask=None if mask is None else pa.array(mask))


def vectors_to_matrix(col: pa.Array, dim: int | None, op: str
                      ) -> np.ndarray:
    """Arrow ``list<double>`` array -> ``(rows, dim)`` float64 matrix, one
    fixed-length vector per row (``dim=None``: the first row's length).

    A NULL vector, a NULL element or a row of another length raises a
    ``ValueError`` naming ``op``: reshaping a ragged batch would silently
    pair the wrong coordinates, and a NULL element would poison every
    distance as NaN."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(
            f"{op}: NULL vector in input (filter or impute upstream)")
    values = col.flatten()
    if values.null_count:
        raise ValueError(f"{op}: NULL element inside a vector "
                         "(filter or impute upstream)")
    lens = np.diff(list_offsets(col))
    if dim is None:
        dim = int(lens[0]) if lens.size else 0
    if (lens != dim).any():
        raise ValueError(f"{op}: vector of length {int(lens[lens != dim][0])}"
                         f" != dim {dim} (ragged input)")
    return values.to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False).reshape(lens.size, dim)


def matrix_to_vectors(mat: np.ndarray) -> pa.ListArray:
    """``(rows, dim)`` numpy matrix -> Arrow list rows of its dtype (the
    inverse of :func:`vectors_to_matrix`)."""
    return pa.FixedSizeListArray.from_arrays(
        pa.array(mat.ravel()), mat.shape[1]).cast(
            pa.list_(pa.from_numpy_dtype(mat.dtype)))


def append_column(df: DataFrame, fields: str,
                  fn: Callable[[pa.RecordBatch], pa.Array | list[pa.Array]],
                  *, drop: tuple[str, ...] = ()) -> DataFrame:
    """``df`` without its ``drop`` columns, plus the new columns ``fields``
    (a Spark DDL field list, e.g. ``"tokens array<int>, n_tok int"``)
    computed from each Arrow batch by ``fn`` in one ``mapInArrow`` pass.
    ``fn`` returns one array per new field (a bare array for one field);
    the kept input columns pass through untouched."""
    keep = [f.name for f in df.schema.fields if f.name not in drop]
    ddl = ", ".join([f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema.fields if f.name in keep] + [fields])
    names = keep + StructType.fromDDL(fields).fieldNames()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            new = fn(batch)
            if isinstance(new, (pa.Array, pa.ChunkedArray)):
                new = [new]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep] + list(new), names)

    return df.mapInArrow(run, ddl)


def inject_flat(flat: np.ndarray, offsets: np.ndarray, doc_seed: np.ndarray,
                rate: float = 0.04, seed: int = 42
                ) -> tuple[np.ndarray, np.ndarray]:
    """Insert marker codepoints before ~rate of tokens, deterministically.

    ``doc_seed`` is one uint64 per row; injection depends only on
    (doc_seed, position-in-doc), so results are identical under any
    partitioning or batch split.
    """
    n = flat.shape[0]
    lengths = np.diff(offsets)
    if n == 0:
        return flat, offsets
    pos_in_doc = np.arange(n, dtype=np.uint64) - np.repeat(
        offsets[:-1].astype(np.uint64), lengths)
    h = _mix64(np.repeat(doc_seed, lengths) ^ _mix64(
        pos_in_doc + np.uint64(seed)))
    inject = (h % np.uint64(1_000_000)) < np.uint64(int(rate * 1_000_000))
    marker = INJECT_POOL[(h >> np.uint64(20)) % np.uint64(len(INJECT_POOL))]

    out_len = np.ones(n, dtype=np.int64) + inject
    cum = np.concatenate([[0], np.cumsum(out_len)])
    out = np.empty(int(cum[-1]), dtype=np.int64)
    out[cum[:-1] + inject] = flat          # original token (shifted if marked)
    out[cum[:-1][inject]] = marker[inject]  # injected marker first
    new_offsets = cum[offsets]

    # leading BOM for docs where doc_seed % 17 == 0 (FIXTURES bom_lead)
    bom_rows = (doc_seed % np.uint64(17)) == 0
    if bom_rows.any():
        row_extra = bom_rows.astype(np.int64)
        cum2 = np.concatenate([[0], np.cumsum(
            np.diff(new_offsets) + row_extra)])
        out2 = np.empty(int(cum2[-1]), dtype=np.int64)
        out2[cum2[:-1][bom_rows]] = 0xFEFF
        # each old token shifts right by the number of BOMs in rows <= its row
        old_pos = np.arange(int(new_offsets[-1]))
        out2[old_pos + np.repeat(np.cumsum(row_extra),
                                 np.diff(new_offsets))] = out
        out, new_offsets = out2, cum2
    return out, new_offsets


def token_table(spark: SparkSession, sf_dir: str, inject: bool = True,
                rate: float = 0.04, seed: int = 42,
                replicate: int = 1, partitions: int | None = None
                ) -> DataFrame:
    """documents.parquet -> the input_hint token table (+event_time).

    ``replicate=K`` scales the corpus K× with distinct doc_ids (and therefore
    distinct injected markers / sources / event_times per replica).  The
    replica axis is the *partitioned* side of a broadcast cross join, so each
    partition generates its replicas locally — no shuffle, scales linearly
    with parallelism at any corpus size.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    if replicate > 1:
        nparts = partitions or spark.sparkContext.defaultParallelism * 2
        reps = spark.range(0, replicate, 1, numPartitions=nparts)
        docs = (reps.crossJoin(F.broadcast(docs))
                .select((F.col("doc_id") * replicate + F.col("id"))
                        .alias("doc_id"), "text"))
    out_schema = ("doc_id string, tokens array<int>, n_tok int, "
                  "source string, event_time timestamp")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("doc_id").to_numpy(
                zero_copy_only=False).astype(np.uint64)
            flat, offsets = strings_to_flat_tokens(batch.column("text"))
            doc_seed = _mix64(ids + np.uint64(seed))
            if inject:
                flat, offsets = inject_flat(flat, offsets, doc_seed,
                                            rate=rate, seed=seed)
            src_idx = np.searchsorted(
                _SOURCE_CUTS, (doc_seed >> np.uint64(8)) % np.uint64(100),
                side="right")
            src = pa.array(np.asarray(SOURCES, dtype=object)[src_idx],
                           type=pa.string())
            ev = BASE_TS + (ids.astype(np.int64) * 137_000).astype(
                "timedelta64[us]")
            doc_id_str = pc.binary_join_element_wise(
                "doc", pc.cast(batch.column("doc_id"), pa.string()),
                "")
            yield pa.RecordBatch.from_arrays(
                [doc_id_str, flat_tokens_to_lists(flat, offsets),
                 pa.array(np.diff(offsets), type=pa.int32()), src,
                 pa.array(ev, type=pa.timestamp("us"))],
                names=["doc_id", "tokens", "n_tok", "source", "event_time"])

    return docs.mapInArrow(run, out_schema)


def rate_token_stream(spark: SparkSession, *, rows_per_second: int = 100,
                      seed: int = 42, rate: float = 0.04) -> DataFrame:
    """Streaming smoke source (SURVEY S5 analog): the built-in ``rate``
    source mapped to deterministic synthetic token sequences.

    Each rate tick becomes one sequence whose tokens/markers derive from the
    tick's value (same injection machinery as :func:`token_table`), so a
    smoke stream needs no files at all.
    """
    import pyarrow as pa  # noqa: F811 (worker-side import)

    rate_src = (spark.readStream.format("rate")
                .option("rowsPerSecond", rows_per_second).load())
    out_schema = ("doc_id string, tokens array<int>, n_tok int, "
                  "source string, event_time timestamp")
    base = "spark streaming engine test sequence payload "

    def run(batches):
        for batch in batches:
            vals = batch.column("value").to_numpy(
                zero_copy_only=False).astype(np.uint64)
            texts = pa.array([base + str(v) for v in vals.tolist()],
                             type=pa.string())
            flat, offsets = strings_to_flat_tokens(texts)
            doc_seed = _mix64(vals + np.uint64(seed))
            flat, offsets = inject_flat(flat, offsets, doc_seed,
                                        rate=rate, seed=seed)
            src_idx = np.searchsorted(
                _SOURCE_CUTS, (doc_seed >> np.uint64(8)) % np.uint64(100),
                side="right")
            yield pa.RecordBatch.from_arrays(
                [pa.array([f"rate{v}" for v in vals.tolist()],
                          type=pa.string()),
                 flat_tokens_to_lists(flat, offsets),
                 pa.array(np.diff(offsets), type=pa.int32()),
                 pa.array(np.asarray(SOURCES, dtype=object)[src_idx],
                          type=pa.string()),
                 batch.column("timestamp").cast(pa.timestamp("us"))],
                names=["doc_id", "tokens", "n_tok", "source", "event_time"])

    return rate_src.mapInArrow(run, out_schema)
