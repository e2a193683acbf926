"""Broadcast Bloom-filter membership — cross-snapshot dedup at 100 TB.

The recurring shape: a new crawl/batch must be deduplicated against a
*historical* corpus that is far too large to join against (the key set
alone is TBs).  A Bloom filter compresses the history's key set into an
``m``-bit array with zero false negatives and a tunable false-positive
rate, so the probe side needs only a broadcast of ``m/8`` bytes and a
per-row bit check — no shuffle, no join, cost independent of how many
keys the history holds (only of how many DISTINCT bits they set).

Design (all public-arithmetic, so an external SQL oracle can replicate
membership bit-for-bit):

* One ``md5(key || '|' || salt)`` per key (JVM codegen, the same digest
  family as ``sampling.hash_unit``).  ``h1`` / ``h2`` are the first /
  second 8 hex digits folded to integers; the ``k`` bit positions are
  Kirsch-Mitzenmacher double hashing ``(h1 + i*(2*h2+1)) mod m`` — the
  odd step makes the probe sequence non-degenerate for any ``m``, and
  every intermediate fits int64 exactly (``h1, h2 < 2^32``,
  ``i*(2*h2+1) < k * 2^33``), so Spark, numpy, and DuckDB BIGINT all
  agree.
* **Build** (:func:`bloom_build`): positions explode map-side (narrow,
  no shuffle), each partition sets bits in a local ``m``-bit numpy
  bitset and ships ONE ``m/8``-byte partial to the driver, which ORs
  them — the treeAggregate shape; raw keys never move.
* **Probe**: two equivalent paths.  :func:`bloom_might_contain` keeps
  everything JVM-side — the bitset rides the plan as a binary literal
  and the bit test is ``hex``/``conv``/``shiftright`` codegen (zero
  Python, zero shuffle; right up to filters of a few MB).
  :func:`bloom_might_contain_py` broadcasts the bitset through
  ``SparkContext.broadcast`` and checks bits in one vectorized Arrow
  pass — the path for 100 MB+ filters where a plan literal would bloat
  every task's deserialized plan.

NULL keys hash as the empty string (the engine-wide NULL-as-empty text
convention), so a NULL probe is deterministic rather than silently
false.

No reference counterpart (the reference is a single-process scanner);
this extends the LLM-pipeline dedup family (``operators/dedup.py``)
with the cross-run membership primitive.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex_fold(hx: Column, start: int) -> Column:
    """8 hex digits of a digest string (0-based ``start``) as a BIGINT —
    the value of the ``sampling.hash_unit`` digit fold, evaluated as ONE
    base conversion.  The per-digit CASE-chain formulation computes the
    same number but embeds the md5 subtree in every branch, and
    codegen's subexpression elimination skips conditional branches — the
    fold form re-hashed the full text ~80x per row (measured 6x slower
    on both the build and the JVM probe).  The SQL oracle keeps the
    digit-fold arithmetic; the values are equal by definition."""
    return F.conv(F.substring(hx, start + 1, 8), 16, 10).cast("long")


def bloom_positions(key: str | Column, *, m: int, k: int,
                    salt: str = "bloom") -> Column:
    """``array<long>`` of the ``k`` bit positions for a key.

    Pure function of (key, salt): partitioning-independent, identical
    on any cluster size, and replicable verbatim in ANSI SQL (md5 hex
    digits + integer arithmetic only).
    """
    if not (0 < k <= 16):
        raise ValueError("k must be in 1..16 (i*step must stay in int64)")
    if m <= 0:
        raise ValueError("m must be positive")
    col = F.col(key) if isinstance(key, str) else key
    hx = F.md5(F.concat(F.coalesce(col.cast("string"), F.lit("")),
                        F.lit(f"|{salt}")))
    h1 = _hex_fold(hx, 0)
    h2 = _hex_fold(hx, 8)
    step = h2 * 2 + 1  # odd: full period for power-of-two m, no fixpoint
    return F.array(*[F.pmod(h1 + F.lit(i) * step, F.lit(m))
                     for i in range(k)])


def bloom_build(df: DataFrame, key_col: str = "text", *, m: int,
                k: int = 7, salt: str = "bloom",
                max_partials: int = 64) -> bytes:
    """Build the ``m``-bit filter over ``df[key_col]``; returns
    ``ceil(m/8)`` packed bytes (MSB-first within a byte, numpy
    ``packbits`` order).

    One narrow pass: positions are computed JVM-side, exploded map-side,
    and each partition emits a single ``m/8``-byte partial bitset from a
    vectorized numpy scatter.  Nothing but partial bitsets ever moves and
    no key ever reaches the driver.  Driver ingress is BOUNDED: when the
    scan has more than ``max_partials`` partitions, the partials are
    hash-repartitioned to ``max_partials`` tasks and OR-merged in a
    second map stage before the collect (a two-level treeAggregate), so
    the driver always pulls at most ``max_partials × m/8`` bytes no
    matter how many thousand partitions the scan has — OR is associative
    and commutative, so the resulting bits are identical to the flat
    merge by construction.  Scans at or below ``max_partials`` partitions
    skip the extra stage entirely.
    """
    import pyarrow as pa

    nbytes = (m + 7) // 8
    pos_df = df.select(
        F.explode(bloom_positions(key_col, m=m, k=k, salt=salt))
        .alias("pos"))

    def partial_bits(batches):
        bits = np.zeros(m, dtype=bool)
        for b in batches:
            p = b.column(0).to_numpy(zero_copy_only=False)
            if len(p):
                bits[p] = True
        yield pa.RecordBatch.from_arrays(
            [pa.array([np.packbits(bits).tobytes()], type=pa.binary())],
            ["bits"])

    def or_bits(batches):
        acc = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for b in batches:
            col = b.column(0)
            for i in range(len(col)):
                acc |= np.frombuffer(col[i].as_py(), dtype=np.uint8)
                seen = True
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array([acc.tobytes()], type=pa.binary())], ["bits"])

    partials_df = pos_df.mapInArrow(partial_bits, "bits binary")
    if pos_df.rdd.getNumPartitions() > max_partials:
        # repartition, not coalesce: coalesce would propagate the reduced
        # partition count INTO the scan and single-thread the build; the
        # shuffle here moves only the m/8-byte partials themselves
        partials_df = partials_df.repartition(max_partials) \
            .mapInArrow(or_bits, "bits binary")
    partials = partials_df.collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for row in partials:
        out |= np.frombuffer(row.bits, dtype=np.uint8)
    return out.tobytes()


def _bit_at(bits_lit: Column, p: Column) -> Column:
    """JVM-codegen bit test against a binary literal: byte ``p >> 3``
    (1-based substring), bit ``7 - (p & 7)`` from the MSB — the
    ``np.packbits`` layout.  ``shiftright`` takes only literal shift
    counts, so the mask comes from an 8-entry array literal instead."""
    byte = F.conv(F.hex(F.substring(bits_lit, (p / 8).cast("int") + 1,
                                    F.lit(1))), 16, 10).cast("int")
    mask = F.element_at(F.array(*[F.lit(1 << (7 - j)) for j in range(8)]),
                        (p % 8).cast("int") + 1)
    return F.when(byte.bitwiseAND(mask) != 0, 1).otherwise(0)


def bloom_might_contain(df: DataFrame, bits: bytes,
                        key_col: str = "text", *, m: int, k: int = 7,
                        salt: str = "bloom",
                        out_col: str = "might_contain") -> DataFrame:
    """Append ``out_col: boolean`` — true iff all ``k`` of the key's bits
    are set in ``bits``.  Zero false negatives for keys the filter was
    built over; false positives at the standard ``(1-e^{-kn/m})^k`` rate.

    Entirely JVM-side: the bitset is ONE binary literal in the plan
    (shared by the ``forall`` lambda, not duplicated per probe) and the
    bit test is codegen ``hex``/``conv``/shift arithmetic — a pure
    projection, no shuffle, no Python.  Use
    :func:`bloom_might_contain_py` when the filter is too large to ride
    the serialized plan.
    """
    if len(bits) != (m + 7) // 8:
        raise ValueError(f"bits has {len(bits)} bytes, expected "
                         f"{(m + 7) // 8} for m={m}")
    lit = F.lit(bytearray(bits))
    pos = bloom_positions(key_col, m=m, k=k, salt=salt)
    return df.withColumn(out_col,
                         F.forall(pos, lambda p: _bit_at(lit, p) == 1))


def bloom_might_contain_py(df: DataFrame, bits: bytes,
                           key_col: str = "text", *, m: int, k: int = 7,
                           salt: str = "bloom",
                           out_col: str = "might_contain") -> DataFrame:
    """Same contract as :func:`bloom_might_contain`, but the bitset goes
    out as a real ``SparkContext.broadcast`` (torrent-distributed once
    per executor) and membership is ONE vectorized Arrow pass — the
    large-filter path: the plan stays small no matter how big ``m`` is.
    """
    import pyarrow as pa

    from ..sources.synth import append_column, lists_to_flat_tokens

    if len(bits) != (m + 7) // 8:
        raise ValueError(f"bits has {len(bits)} bytes, expected "
                         f"{(m + 7) // 8} for m={m}")
    bc = df.sparkSession.sparkContext.broadcast(
        np.frombuffer(bits, dtype=np.uint8))
    with_pos = df.withColumn(
        "__bloom_pos", bloom_positions(key_col, m=m, k=k, salt=salt))

    def check(batch: pa.RecordBatch) -> pa.Array:
        v, _ = lists_to_flat_tokens(batch.column("__bloom_pos"))
        hit = ((bc.value[v >> 3] >> (7 - (v & 7))) & 1).astype(bool)
        return pa.array(hit.reshape(-1, k).all(axis=1))

    return append_column(with_pos, f"{out_col} boolean not null", check,
                         drop=("__bloom_pos",))
