"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side contracts — schema, partitioning, Arrow batch shape, UDF
signatures — are real and tested; the actual codec work is STUBBED because
this container ships no image/audio libraries: ``decode_images`` /
``resample_audio`` raise ``NotImplementedError`` unless
``deterministic_fake=True``, in which case a seeded, content-hash-derived
fake is produced (stable across partitionings, so tests and downstream
plumbing behave exactly as they would with a real codec).

Schema conventions:

* ``media: binary`` — the opaque payload;
* ``media_meta: struct<kind string, width int, height int, sample_rate int,
  n_frames int>`` — typed metadata travelling with the payload;
* feature columns are fixed-size float64 arrays (Arrow FixedSizeList) so
  downstream ANN/similarity operators apply unchanged.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.synth import append_column, matrix_to_vectors

MEDIA_META_DDL = ("media_meta struct<kind:string, width:int, height:int, "
                  "sample_rate:int, n_frames:int>")


def _pil_image():
    """PIL's Image module, or None — gate, don't require (the sandbox
    ships no codec libs; production clusters usually do)."""
    try:
        from PIL import Image
        return Image
    except ImportError:
        return None


def _soundfile():
    try:
        import soundfile
        return soundfile
    except ImportError:
        return None


def image_codec_available() -> bool:
    return _pil_image() is not None


def audio_codec_available() -> bool:
    return _soundfile() is not None


def attach_fake_media(df: DataFrame, id_col: str = "doc_id", *,
                      kind: str = "image", seed: int = 42) -> DataFrame:
    """Test fixture: deterministic binary payload + metadata per row.

    The payload is the utf8 bytes of ``md5(id || '|' || seed)`` and the
    metadata ints derive from ascii codes of its hex chars — PORTABLE
    expressions (md5 hex + ascii + modulo exist identically in Spark SQL
    and DuckDB), so the whole multimodal pipeline is replicable by the
    driver's SQL oracle while staying a pure function of the row id
    (partitioning-independent)."""
    hx = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}")))

    def hx_int(pos: int, n: int):
        # big-endian int from ascii codes of hex chars [pos, pos+n)
        v = F.lit(0)
        for j in range(n):
            v = v * 256 + F.ascii(F.substring(hx, pos + j + 1, 1))
        return v

    meta = F.struct(
        F.lit(kind).alias("kind"),
        (F.pmod(hx_int(2, 2), F.lit(512)) + 32).cast("int").alias("width"),
        (F.pmod(hx_int(4, 2), F.lit(256)) + 32).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.pmod(hx_int(0, 2), F.lit(240)) + 1).cast("int").alias("n_frames"))
    return (df.withColumn("media", hx.cast("binary"))
            .withColumn("media_meta", meta))


def _fake_features(blobs: list, out_dim: int) -> np.ndarray:
    """The portable content-hash fake: 4-byte big-endian ints from the
    payload bytes, centered mod 65536, unit-normalized in float64 with a
    fixed left-associative summation so DuckDB reproduces exact values."""
    feats = np.zeros((len(blobs), out_dim), dtype=np.float64)
    for i, b in enumerate(blobs):
        if b is None:
            continue
        bb = np.frombuffer(bytes(b), dtype=np.uint8).astype(np.float64)
        need = 4 * out_dim
        if bb.size < need:
            bb = np.resize(bb, need)  # cyclic pad, deterministic
        raw = (((bb[0:need:4] * 256 + bb[1:need:4]) * 256
                + bb[2:need:4]) * 256 + bb[3:need:4])
        v = np.mod(raw, 65536.0) - 32768.0
        norm = 0.0
        for x in v:               # fixed left-assoc order (= the SQL)
            norm += x * x
        norm = float(np.sqrt(norm)) or 1.0
        feats[i] = v / norm
    return feats


def _pil_features(blobs: list, out_dim: int, Image) -> np.ndarray:
    """Real decode: grayscale → out_dim×out_dim thumbnail → centered row
    means, unit-normalized.  Deterministic for a given payload."""
    from io import BytesIO

    feats = np.zeros((len(blobs), out_dim), dtype=np.float64)
    for i, b in enumerate(blobs):
        if b is None:
            continue
        img = Image.open(BytesIO(bytes(b))).convert("L") \
            .resize((out_dim, out_dim))
        arr = np.asarray(img, dtype=np.float64)
        v = arr.mean(axis=1) - arr.mean()
        norm = float(np.sqrt((v * v).sum())) or 1.0
        feats[i] = v / norm
    return feats


def decode_images(df: DataFrame, *, out_dim: int = 8,
                  deterministic_fake: bool = False,
                  media_col: str = "media") -> DataFrame:
    """binary image -> feature vector ``img_features: array<double>``.

    Codec selection auto-upgrades, no API change: ``deterministic_fake=
    True`` always runs the portable content-hash fake (the oracle-checked
    test path — see :func:`_fake_features`); otherwise the operator uses
    PIL when importable (real decode, :func:`_pil_features`) and raises a
    clear error when neither applies (this sandbox ships no codec libs).
    Either way the Arrow fan-out, schema, and batch shape are identical —
    the plumbing a codec plugs into is what downstream operators contract
    on.
    """
    def features(batch: pa.RecordBatch) -> pa.Array:
        # resolve the codec inside the worker (executors may differ from
        # the driver environment on a real cluster)
        Image = None if deterministic_fake else _pil_image()
        blobs = batch.column(media_col).to_pylist()
        if deterministic_fake:
            feats = _fake_features(blobs, out_dim)
        elif Image is not None:
            feats = _pil_features(blobs, out_dim, Image)
        else:
            raise NotImplementedError(
                "image codec not available (PIL not importable); "
                "install pillow for real decode or pass "
                "deterministic_fake=True for the plumbing path")
        return matrix_to_vectors(feats)

    return append_column(df, "img_features array<double>", features)


def sample_frames(df: DataFrame, *, every_n: int = 24,
                  media_col: str = "media") -> DataFrame:
    """video -> exploded frame index rows (frame decode itself stubbed).

    The *sampling plan* is real Spark: frame indices come from the metadata,
    so the fan-out, partitioning, and row explosion are exercised without a
    codec.  Downstream ``decode_images`` consumes the per-frame rows.
    """
    idxs = F.sequence(
        F.lit(0), F.greatest(F.col("media_meta.n_frames") - 1, F.lit(0)),
        F.lit(every_n))
    return (df.withColumn("frame_idx", F.explode(idxs))
            .withColumn("frame_ref",
                        F.concat_ws(":", F.xxhash64(media_col).cast("string"),
                                    F.col("frame_idx").cast("string"))))


def resample_audio(df: DataFrame, *, target_rate: int = 16000,
                   out_dim: int = 4, deterministic_fake: bool = False,
                   media_col: str = "media") -> DataFrame:
    """binary audio -> ``audio_features: array<double>``.

    Same auto-upgrade contract as :func:`decode_images`: the fake path is
    the oracle-checked default in tests; when ``soundfile`` is importable
    the real path decodes, linearly resamples to ``target_rate`` (np.interp
    — a production job would use a polyphase filter), and emits per-segment
    RMS energies over ``out_dim`` equal splits, unit-normalized.  The codec
    is resolved INSIDE the worker (mirroring :func:`decode_images`):
    gating on the driver's import would crash with an opaque error on
    clusters where driver and executor environments differ."""
    if deterministic_fake:
        return decode_images(df, out_dim=out_dim, deterministic_fake=True,
                             media_col=media_col) \
            .withColumnRenamed("img_features", "audio_features") \
            .withColumn("resampled_rate", F.lit(target_rate))

    def features(batch: pa.RecordBatch) -> pa.Array:
        from io import BytesIO

        sf_mod = _soundfile()
        if sf_mod is None:
            raise NotImplementedError(
                "audio codec not available on this executor (soundfile "
                "not importable); install soundfile for real decode or "
                "pass deterministic_fake=True for the plumbing path")
        blobs = batch.column(media_col).to_pylist()
        feats = np.zeros((len(blobs), out_dim), dtype=np.float64)
        for i, b in enumerate(blobs):
            if b is None:
                continue
            data, rate = sf_mod.read(BytesIO(bytes(b)), dtype="float64")
            mono = data.mean(axis=1) if data.ndim > 1 else data
            if rate != target_rate and mono.size > 1:
                n_out = max(1, int(round(mono.size * target_rate / rate)))
                mono = np.interp(np.linspace(0, mono.size - 1, n_out),
                                 np.arange(mono.size), mono)
            segs = np.array_split(mono, out_dim)
            v = np.array([np.sqrt(np.mean(s * s)) if s.size else 0.0
                          for s in segs])
            norm = float(np.sqrt((v * v).sum())) or 1.0
            feats[i] = v / norm
        return matrix_to_vectors(feats)

    return append_column(df, "audio_features array<double>", features) \
        .withColumn("resampled_rate", F.lit(target_rate))
