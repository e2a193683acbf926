"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection over the
``documents`` corpus.  Scale notes (100 TB framing):

* exact dedup is a hash-groupBy — one shuffle on a 16-byte digest, with
  map-side distinct;
* shingle hashing is ONE vectorized pass over the whole Arrow batch (the
  batch's texts are flattened to a single codepoint array + offsets, the
  rolling hash runs over the flat array, per-doc reductions use
  ``np.minimum.reduceat`` / ``np.add.reduceat``) — no per-doc Python loop
  anywhere in the signature hot path;
* LSH *bands* are exploded and shuffled once on (band, bucket) carrying
  only ``(id, band, band_hash)`` — signatures are re-attached AFTER the
  candidate pairs are deduplicated, so the big band/bucket shuffle moves
  ~8× fewer bytes than shipping the 64-value signatures through it;
* SimHash reduces each doc to a 64-bit fingerprint; near-dup candidates are
  grouped by fingerprint bands (4x16-bit tables) — again no cross join;
* verification (true Jaccard over shingle sets) happens only on
  bucket-collision candidates — pair-local by construction.

Techniques (public literature): MinHash resemblance estimation — Broder,
"On the resemblance and containment of documents" (1997); banded LSH —
Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* ch. 3; SimHash —
Charikar, "Similarity estimation techniques from rounding algorithms"
(STOC 2002) as applied in Manku et al., "Detecting near-duplicates for web
crawling" (WWW 2007).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.synth import (append_column, matrix_to_vectors,
                             strings_to_flat_tokens)

_M61 = np.uint64((1 << 61) - 1)
_HASH_BASE = np.uint64(1099511628211)
_U64_MAX = np.iinfo(np.uint64).max


def _flat_shingle_hashes(texts: pa.Array, k: int
                         ) -> tuple[np.ndarray, np.ndarray]:
    """All docs' k-shingle rolling hashes in ONE vectorized pass.

    Returns (flat hashes uint64, offsets int64): row i's shingles are
    ``hashes[offsets[i]:offsets[i+1]]``, duplicates KEPT (minhash is
    duplicate-insensitive; simhash dedups separately).  The rolling hash is
    computed over the whole batch's concatenated codepoints; window starts
    that would cross a document boundary are simply not gathered.
    """
    return _rolling_hashes(*strings_to_flat_tokens(texts), k)


def _rolling_hashes(cps: np.ndarray, offsets: np.ndarray, k: int
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Core of :func:`_flat_shingle_hashes` over an already-flat codepoint
    array (any integer dtype, hashed as uint64) + row offsets — shared by
    the text path (codepoints from strings) and the token-table path (the
    ``tokens`` arrays ARE the codepoints, so both paths produce identical
    hashes for equal content)."""
    n = cps.size
    lens = np.diff(offsets)
    out_lens = np.maximum(lens - k + 1, 0)
    out_offsets = np.concatenate([[0], np.cumsum(out_lens, dtype=np.int64)])
    total = int(out_offsets[-1])
    if total == 0:
        return np.zeros(0, dtype=np.uint64), out_offsets
    acc = _horner_windows(cps.astype(np.uint64, copy=False), k)
    # gather only in-document window starts
    pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(
        out_offsets[:-1], out_lens)
    sel = pos_in_doc + np.repeat(offsets[:-1], out_lens)
    return acc[sel], out_offsets


def _horner_windows(cps: np.ndarray, k: int) -> np.ndarray:
    """All ``k``-window Horner hashes ``H_k[i] = Σ cps[i+j]·B^(k-1-j)``
    (mod 2^64) over a flat uint64 array, in O(log k) vector passes
    instead of the naive k-pass loop: the doubling identity
    ``H_{2s}[i] = H_s[i]·B^s + H_s[i+s]`` (and ``H_{s+1}[i] = H_s[i]·B +
    cps[i+s]`` for odd bits), with ``B^s`` tracked by repeated squaring.
    All arithmetic wraps mod 2^64 exactly like the naive loop — modular
    ring associativity makes the values IDENTICAL bit for bit (asserted
    in tests against the reference loop)."""
    H = cps.copy()
    s = 1
    for bit in bin(k)[3:]:  # remaining bits after the leading 1
        pw = np.uint64(pow(int(_HASH_BASE), s, 1 << 64))
        H = H[:H.size - s] * pw + H[s:]
        s *= 2
        if bit == "1":
            H = H[:H.size - 1] * _HASH_BASE + cps[s:s + H.size - 1]
            s += 1
    return H


def _unique_per_doc(hashes: np.ndarray, offsets: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Segment-wise distinct: (hashes, offsets) -> deduped per doc."""
    nrows = offsets.shape[0] - 1
    lens = np.diff(offsets)
    row = np.repeat(np.arange(nrows, dtype=np.int64), lens)
    order = np.lexsort((hashes, row))
    h, r = hashes[order], row[order]
    keep = np.ones(h.size, dtype=bool)
    if h.size:
        keep[1:] = (h[1:] != h[:-1]) | (r[1:] != r[:-1])
    uh, ur = h[keep], r[keep]
    new_offsets = np.concatenate(
        [[0], np.cumsum(np.bincount(ur, minlength=nrows), dtype=np.int64)])
    return uh, new_offsets


def _minhash_batch(texts: pa.Array, a: np.ndarray, b: np.ndarray,
                   k: int) -> np.ndarray:
    """(nrows, num_perm) minhash matrix, fully vectorized: one rolling-hash
    pass over the flat batch, then per-permutation universal hashing with a
    segmented ``np.minimum.reduceat`` (duplicates are harmless under min)."""
    hashes, offsets = _flat_shingle_hashes(texts, k)
    nrows = offsets.shape[0] - 1
    num_perm = a.shape[0]
    sigs = np.full((num_perm, nrows), _U64_MAX, dtype=np.uint64)
    nonempty = np.diff(offsets) > 0
    if hashes.size:
        starts = offsets[:-1][nonempty]
        # the permutation value is ((a*h + b) mod 2^64) mod M61 (uint64
        # wraparound then the Mersenne prime) — computed here with the
        # exact shift-add reduction instead of a hardware division:
        # t mod (2^61-1) == (t >> 61) + (t & M61), minus M61 once if the
        # sum reaches it (sum < M61 + 8, so one conditional subtract is
        # exact).  Buffers are preallocated once per batch: 64 perms ×
        # per-perm temporaries would otherwise churn this VM's
        # fault-priced allocator.
        buf = np.empty(hashes.size, dtype=np.uint64)
        q = np.empty(hashes.size, dtype=np.uint64)
        for i in range(num_perm):  # num_perm is a small constant (64)
            np.multiply(hashes, a[i], out=buf)
            np.add(buf, b[i], out=buf)
            np.right_shift(buf, np.uint64(61), out=q)
            np.bitwise_and(buf, _M61, out=buf)
            np.add(buf, q, out=buf)
            np.subtract(buf, _M61, out=buf, where=buf >= _M61)
            sigs[i, nonempty] = np.minimum.reduceat(buf, starts)
    return sigs.T


def minhash_signatures(df: DataFrame, text_col: str = "text", *,
                       num_perm: int = 64, shingle_k: int = 5,
                       seed: int = 42) -> DataFrame:
    """Add ``minhash: array<bigint>`` (num_perm values) per document."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(_M61), num_perm, dtype=np.uint64)
    b = rng.integers(0, int(_M61), num_perm, dtype=np.uint64)
    def signatures(batch: pa.RecordBatch) -> pa.Array:
        return matrix_to_vectors(_minhash_batch(
            batch.column(text_col), a, b, shingle_k).astype(np.int64))

    return append_column(df, "minhash array<bigint>", signatures)


def _lsh_candidates(df: DataFrame, id_col: str, text_col: str, *,
                    num_perm: int, bands: int, seed: int,
                    materialize: bool = True
                    ) -> tuple[DataFrame, DataFrame]:
    """Shared LSH core -> (candidate pairs, signature table).

    The band/bucket self-join carries only ``(id, band, band_hash)`` — the
    64-value signatures stay out of the big shuffle (re-attach them after
    pair dedup if needed), moving ~8× fewer bytes than shipping signatures
    through every band row.  ``materialize`` marks the signature table
    persisted (MEMORY_AND_DISK) so the shingle/minhash kernel runs once
    across the band branch and the signature re-attach branch (measured:
    without it the band self-join plans the kernel twice — no
    ReusedExchange).  Persist is lazy (no job at plan-construction time)
    and recoverable — a lost executor recomputes the deterministic seeded
    kernel, unlike ``localCheckpoint`` whose blocks are unrecoverable on
    executor loss.  The cached table lives until the session ends or the
    caller unpersists the returned ``sig`` handle; under memory pressure
    MEMORY_AND_DISK blocks spill rather than grow the heap.  Pass
    ``materialize=False`` to trade one extra kernel pass for zero cache
    footprint.  At production scale the signature table is written out
    once (its own Iceberg table) and reused; persist is the single-job
    analog.
    """
    sig = signature_index(df, id_col, text_col,
                          num_perm=num_perm, seed=seed)
    if materialize:
        sig = sig.persist()
    banded = _band_hashes(sig, id_col, num_perm=num_perm, bands=bands)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (left.join(right,
                      (F.col("l.band") == F.col("r.band"))
                      & (F.col("l.band_hash") == F.col("r.band_hash"))
                      & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("doc_a"),
                    F.col(f"r.{id_col}").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    return cand, sig


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", *,
                      num_perm: int = 64, bands: int = 16,
                      text_col: str = "text",
                      jaccard_threshold: float = 0.7,
                      seed: int = 42,
                      materialize: bool = False) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, filtered by the
    signature-agreement Jaccard estimate.

    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b, deduplicated.

    Lazy by default (``materialize=False``): building the DataFrame runs
    no job and leaves no cache — the deterministic signature kernel simply
    re-runs per branch of the plan (band self-join + the two est-Jaccard
    re-attaches).  ``materialize=True`` is the opt-in for repeated
    consumption: it persists the signature table so the kernel runs once,
    EAGERLY materializes the (tiny) pair result, unpersists the signature
    cache, and returns the persisted result — the CALLER owns that handle
    and must ``.unpersist()`` it when done (a caller that drops it leaks
    one small cache for the session, which is why it is not the default).
    """
    cand, sig = _lsh_candidates(df, id_col, text_col, num_perm=num_perm,
                                bands=bands, seed=seed,
                                materialize=materialize)
    sa = sig.select(F.col(id_col).alias("doc_a"),
                    F.col("minhash").alias("mh_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"),
                    F.col("minhash").alias("mh_b"))
    est = _est_jaccard(num_perm)
    out = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("est_jaccard", est)
           .where(F.col("est_jaccard") >= jaccard_threshold)
           .select("doc_a", "doc_b",
                   F.round("est_jaccard", 4).alias("est_jaccard")))
    if materialize:
        # the signature cache must not outlive this call (one leaked
        # MEMORY_AND_DISK table per invocation in a long-lived session):
        # materialize the (tiny — near-dup pairs only) result eagerly,
        # release sig, and hand the caller the persisted result itself so
        # .unpersist() on the returned handle actually frees it.  Lineage
        # is kept, so a lost block recomputes (slower, still correct).
        out = out.persist()
        out.count()
        sig.unpersist()
    return out


def simhash_fingerprints(df: DataFrame, text_col: str = "text", *,
                         shingle_k: int = 4, seed: int = 42) -> DataFrame:
    """Add ``simhash: bigint`` — 64-bit weighted-majority fingerprint.

    Vectorized: one flat shingle pass, segment-wise distinct, then 64
    per-bit ``np.add.reduceat`` majority votes — no per-doc Python."""
    def fingerprints(batch: pa.RecordBatch) -> pa.Array:
        raw, off = _flat_shingle_hashes(batch.column(text_col), shingle_k)
        uh, offsets = _unique_per_doc(raw, off)
        lens = np.diff(offsets)
        nonempty = lens > 0
        fps = np.zeros(lens.shape[0], dtype=np.uint64)
        if uh.size:
            starts = offsets[:-1][nonempty]
            seg_lens = lens[nonempty].astype(np.uint64)
            maj_fp = np.zeros(seg_lens.shape[0], dtype=np.uint64)
            for bit in range(64):
                bits = (uh >> np.uint64(bit)) & np.uint64(1)
                cnt = np.add.reduceat(bits, starts)
                maj_fp |= (cnt * np.uint64(2) > seg_lens).astype(
                    np.uint64) << np.uint64(bit)
            fps[nonempty] = maj_fp
        # docs with no shingles get NULL, not 0: a 0 fingerprint would
        # read as Hamming-0-identical to every other empty doc
        return pa.array(fps.astype(np.int64), type=pa.int64(),
                        mask=~nonempty)

    return append_column(df, "simhash bigint", fingerprints)


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id", *,
                      text_col: str = "text", max_hamming: int = 3
                      ) -> DataFrame:
    """Candidate near-dup pairs by 16-bit simhash band collision, verified
    by Hamming distance (pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 bands
    equal).  Shingle-less docs (NULL fingerprint) are excluded — they have
    no similarity signal to compare."""
    fp = simhash_fingerprints(df.select(id_col, text_col),
                              text_col).select(id_col, "simhash") \
        .where(F.col("simhash").isNotNull())
    banded = fp.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned("simhash", 16 * i)
                     .bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for i in range(4)])).alias("bk")
    ).select(id_col, "simhash", "bk.band", "bk.key")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (l.join(r, (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.key") == F.col("r.key"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("doc_a"),
                     F.col(f"r.{id_col}").alias("doc_b"),
                     F.col("l.simhash").alias("sh_a"),
                     F.col("r.simhash").alias("sh_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: keep min-id doc per distinct text.

    Output: (doc_id, content_hash, group_size) for every *kept* doc.
    One hash-agg on the 16-byte digest: Catalyst plans a map-side partial
    (``partial_min``/``partial_count``) before the single shuffle, so hot
    duplicate groups collapse to one row per map partition — unlike a
    window-function formulation, which would sort every group post-shuffle
    with no partial aggregation.
    """
    h = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    return (df.select(id_col, h)
            .groupBy("content_hash")
            .agg(F.min(id_col).alias(id_col),
                 F.count("*").cast("long").alias("group_size"))
            .select(id_col, "content_hash", "group_size"))


def cross_source_overlap(df: DataFrame, *, text_col: str = "text",
                         source_col: str = "source") -> DataFrame:
    """Cross-source exact-duplicate overlap matrix — "how much does
    source A duplicate source B", the report behind mixture design and
    per-source dedup budgeting (a crawl slice that is 30% identical to an
    existing slice should not be weighted as fresh data).

    Output: one row per unordered source pair that shares at least one
    exact text — ``(source_a, source_b, n_shared_texts, n_doc_pairs)``
    with ``source_a < source_b``; ``n_shared_texts`` counts DISTINCT
    duplicated texts, ``n_doc_pairs`` counts cross-source doc pairs
    (``count_a × count_b`` summed over shared texts).

    Scale shape: texts collapse to a 16-byte digest in the scan
    projection, so no text ever rides an exchange; the ``(digest,
    source)`` aggregate partial-aggs map-side (duplicate-heavy corpora
    collapse before the shuffle); the self-join meets only on equal
    digests (never all-pairs — bounded by the duplicated-text count);
    the final aggregate is ≤ |sources|² rows."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary"))
    per = (df.select(h.alias("h"), F.col(source_col).alias("source"))
           .groupBy("h", "source")
           .agg(F.count("*").cast("long").alias("n")))
    l, r = per.alias("l"), per.alias("r")
    pairs = l.join(r, (F.col("l.h") == F.col("r.h"))
                   & (F.col("l.source") < F.col("r.source")))
    return (pairs.groupBy(F.col("l.source").alias("source_a"),
                          F.col("r.source").alias("source_b"))
            .agg(F.count("*").cast("long").alias("n_shared_texts"),
                 F.sum(F.col("l.n") * F.col("r.n")).cast("long")
                 .alias("n_doc_pairs")))


def containment_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 20,
                      min_containment: float = 0.8,
                      max_shingle_df: int = 100,
                      with_sizes: bool = False) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment (Broder 1997):
    ``containment = |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|)`` — the measure
    that catches a small document quoted verbatim inside a much larger
    one, which symmetric-Jaccard dedup (minhash/simhash) structurally
    misses (a doc fully contained in a 10× larger doc has Jaccard ≈ 0.1
    and never crosses an 0.8 threshold).

    Output: ``(doc_a, doc_b, n_shared, containment)`` for unordered pairs
    with rounded containment ≥ ``min_containment`` (``doc_a < doc_b``).

    Scale shape: each doc reduces to DISTINCT ``(doc, shingle_hash)``
    rows inside the Arrow kernel; pairs meet ONLY on equal hashes (never
    all-pairs), and hashes shared by more than ``max_shingle_df`` docs
    (corpus-wide boilerplate) are EXCLUDED from the pair join, bounding
    it at ``C(max_shingle_df, 2)`` pairs per hash.  Deliberate recall
    contract: dropped hot shingles still count in each doc's DENOMINATOR
    (``|S(A)|`` is the full distinct-shingle count), so the reported
    containment is a LOWER BOUND on the true value — a pair held
    together only by corpus-wide boilerplate should not match anyway.
    Hashes in a single doc are skipped before the join (df ≥ 2 filter —
    they cannot form a pair).

    ``with_sizes=True`` appends each side's distinct-shingle count
    (``na``, ``nb``) to the output — consumers that need sizes
    (:func:`drop_contained`) then reuse the one corpus-wide shingle pass
    this function already pays instead of running a second one."""
    from .decontam import doc_shingle_hashes

    sh = doc_shingle_hashes(df, text_col, id_col, k=k)
    sizes = sh.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"))
    kept = (sh.groupBy("shingle_hash")
            .agg(F.count("*").alias("df_cnt"))
            .where((F.col("df_cnt") >= 2)
                   & (F.col("df_cnt") <= max_shingle_df))
            .select("shingle_hash"))
    sh2 = sh.join(kept, "shingle_hash", "left_semi")
    a = sh2.select(F.col(id_col).alias("doc_a"), "shingle_hash")
    b = sh2.select(F.col(id_col).alias("doc_b"), "shingle_hash")
    shared = (a.join(b, "shingle_hash")
              .where(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count("*").cast("long").alias("n_shared")))
    sa = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_shingles").alias("nb"))
    cont = F.round(F.col("n_shared")
                   / F.least("na", "nb").cast("double"), 6)
    cols = ["doc_a", "doc_b", "n_shared"]
    if with_sizes:
        cols += ["na", "nb"]
    return (shared.join(sa, "doc_a").join(sb, "doc_b")
            .select(*cols, cont.alias("containment"))
            .where(F.col("containment") >= min_containment))


def drop_contained(df: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 20,
                   min_containment: float = 0.9,
                   max_shingle_df: int = 100) -> DataFrame:
    """Containment-dedup curation policy: for every
    :func:`containment_pairs` hit, DROP the doc with the smaller distinct
    shingle set (it is the quoted/contained side; exact ties break to
    keeping the smaller id) and return the surviving rows with their
    original schema.  A doc contained in several others is dropped once;
    drops do not cascade (the containing doc keeps its own fate
    independently — both members of a chain A⊂B⊂C can drop, C stays).

    Scale shape: the pair stage is :func:`containment_pairs` with
    ``with_sizes=True`` — the per-side distinct-shingle counts ride the
    pair rows out of the one shingle pass that stage already pays
    (previously a second corpus-wide ``doc_shingle_hashes`` fan-out ran
    here just to rebuild the identical sizes aggregate); the final drop
    is a broadcast anti-join of the (small) loser-id list — the corpus
    never shuffles for the verdict (the ``drop_non_representatives``
    pattern)."""
    j = containment_pairs(df, text_col=text_col, id_col=id_col, k=k,
                          min_containment=min_containment,
                          max_shingle_df=max_shingle_df, with_sizes=True)
    loser = (F.when(F.col("na") < F.col("nb"), F.col("doc_a"))
             .when(F.col("na") > F.col("nb"), F.col("doc_b"))
             # equal sizes: doc_a < doc_b by construction — keep doc_a
             .otherwise(F.col("doc_b")))
    dropped = j.select(loser.alias(id_col)).distinct()
    return df.join(F.broadcast(dropped), id_col, "left_anti")


def _pairwise_jaccard(texts_a: pa.Array, texts_b: pa.Array,
                      k: int) -> np.ndarray:
    """Exact k-shingle Jaccard for row-aligned text pairs, fully vectorized.

    Both columns are flattened with ONE rolling-hash pass each
    (:func:`_flat_shingle_hashes`), deduped segment-wise, then intersection
    sizes come from a single lexsort over the concatenated (row, hash)
    pairs: each side is distinct per row, so an adjacent duplicate within a
    row is exactly one shared shingle.  No per-pair Python, no
    ``to_pylist``.  Pairs where either side has no shingles score 0.0.
    """
    ha, oa = _unique_per_doc(*_flat_shingle_hashes(texts_a, k))
    hb, ob = _unique_per_doc(*_flat_shingle_hashes(texts_b, k))
    la, lb = np.diff(oa), np.diff(ob)
    nrows = la.shape[0]
    rows = np.concatenate([np.repeat(np.arange(nrows, dtype=np.int64), la),
                           np.repeat(np.arange(nrows, dtype=np.int64), lb)])
    hh = np.concatenate([ha, hb])
    order = np.lexsort((hh, rows))
    r, h = rows[order], hh[order]
    dup = np.zeros(0, dtype=bool)
    if h.size > 1:
        dup = (h[1:] == h[:-1]) & (r[1:] == r[:-1])
    inter = np.bincount(r[1:][dup], minlength=nrows).astype(np.int64)
    union = np.maximum(la + lb - inter, 1)
    return np.where((la > 0) & (lb > 0), inter / union, 0.0)


def ngram_jaccard(df_pairs: DataFrame, *, k: int = 5) -> DataFrame:
    """True Jaccard over k-shingle sets for candidate pairs
    (columns text_a, text_b appended -> jaccard double).  Pair-local by
    construction (runs only on LSH bucket-collision candidates) and batch
    vectorized (:func:`_pairwise_jaccard` — one flat rolling-hash pass per
    column + one lexsort, no per-pair Python)."""
    return append_column(df_pairs, "jaccard double", lambda b: pa.array(
        _pairwise_jaccard(b.column("text_a"), b.column("text_b"), k),
        type=pa.float64()))


def verified_near_dups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", *, shingle_k: int = 5,
                       jaccard_threshold: float = 0.85,
                       num_perm: int = 64, bands: int = 16,
                       seed: int = 42) -> DataFrame:
    """MinHash-LSH candidates verified by EXACT k-shingle Jaccard.

    The LSH stage prunes the pair space (no est-Jaccard filter — every
    bucket collision goes to verification); the verify stage computes the
    true Jaccard pair-locally and keeps pairs ≥ ``jaccard_threshold``.
    Output: (doc_a, doc_b, jaccard), doc_a < doc_b.

    Banding is the precision/recall knob and the COST knob at scale: with
    ``num_perm=64``, the default ``bands=16`` (4 rows/band) collides pairs
    down to ~0.4 Jaccard — near-total recall at ``0.85`` but, on a corpus
    with natural template clusters, orders of magnitude more candidates
    than survivors (measured sf0.1: 240,904 candidates → 255 verified).
    ``bands=8`` (8 rows/band) is the precision-oriented setting for
    thresholds ≥0.85 (measured: 721 candidates → the SAME 255 verified) —
    since the exact-Jaccard verify is the dominant shuffle+kernel cost,
    prefer it when the threshold is high.

    Signatures are NOT persisted here (``materialize=False``): this path
    never re-attaches them after banding, so the only cost is one extra
    deterministic kernel pass inside the band self-join — the alternative
    (a persisted signature table whose handle this function would have to
    discard) leaks a MEMORY_AND_DISK cache per invocation for the life of
    the session.
    """
    cand, _ = _lsh_candidates(df, id_col, text_col, num_perm=num_perm,
                              bands=bands, seed=seed, materialize=False)
    texts = df.select(id_col, text_col)
    pairs = (cand
             .join(texts.withColumnRenamed(id_col, "doc_a")
                   .withColumnRenamed(text_col, "text_a"), "doc_a")
             .join(texts.withColumnRenamed(id_col, "doc_b")
                   .withColumnRenamed(text_col, "text_b"), "doc_b"))
    return (ngram_jaccard(pairs, k=shingle_k)
            .where(F.col("jaccard") >= jaccard_threshold)
            .select("doc_a", "doc_b",
                    F.round("jaccard", 6).alias("jaccard")))


def connected_components(pairs: DataFrame, *, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iter: int = 20
                         ) -> DataFrame:
    """Connected components over the near-dup pair graph — the clustering
    step a real dedup pipeline runs AFTER pair generation (pairs say "a
    duplicates b"; the pipeline needs GROUPS and one canonical keeper per
    group).

    Iterative min-label propagation expressed as DataFrame ops: every node
    starts labeled with itself; each round joins the current labels across
    the (symmetrized) edge set and takes the min of a node's own label and
    its neighbors' labels; convergence is reached when no label changes —
    O(graph diameter) rounds, and near-dup graphs are shallow (clusters of
    mutual near-dups), so a handful of shuffles on (node) each round.  Each
    iteration's result is persisted and the previous one unpersisted, so
    the lineage (and recovery cost) stays one round deep — the standard
    iterative-algorithm discipline on Spark.  At 100 TB scale the same loop
    runs unchanged: every round is a partial-agged ``groupBy(node).min``,
    no driver-side data beyond the convergence counter.

    Hub skew (one node the dst of a huge edge fan-in — boilerplate text
    duplicated across millions of docs): while the label table fits the
    broadcast threshold the per-round join never shuffles edges at all;
    beyond it the join is a shuffled join whose skewed dst partition AQE's
    skew-join splits (``spark.sql.adaptive.skewJoin.enabled``, on by
    default under AQE).  Both paths are exercised by
    ``tests/test_pipeline_ops.py::test_connected_components_hub_skew_star``
    (10k-spoke star, broadcast force-disabled for the shuffled variant).

    Returns the final round's persisted DataFrame with columns
    (node, old, component) — ``component`` is the min node id reachable,
    ``old`` the previous round's label (equal at convergence).  The caller
    owns the returned cache: ``.unpersist()`` it when done.
    """
    edges = (pairs.select(F.col(a_col).alias("src"),
                          F.col(b_col).alias("dst"))
             .unionByName(pairs.select(F.col(b_col).alias("src"),
                                       F.col(a_col).alias("dst")))
             .distinct())
    edges = edges.persist()
    cached = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("component", F.col("node"))).persist()
    labels = cached
    try:
        for _ in range(max_iter):
            neighbor_min = (edges
                            .join(labels.withColumnRenamed("node", "dst"),
                                  "dst")
                            .groupBy("src")
                            .agg(F.min("component").alias("nbr_component")))
            # carry the old label through the update so the convergence
            # check is a filter over the SAME cached round result — no
            # extra join job
            joined = (labels.withColumnRenamed("component", "old")
                      .join(neighbor_min.withColumnRenamed("src", "node"),
                            "node", "left")
                      .select("node", "old",
                              F.least("old",
                                      F.coalesce("nbr_component", "old"))
                              .alias("component"))).persist()
            changed = joined.where(
                F.col("old") != F.col("component")).count()
            cached.unpersist()
            cached = joined
            labels = joined.select("node", "component")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds (graph diameter exceeds max_iter)")
    except BaseException:
        cached.unpersist()
        raise
    finally:
        edges.unpersist()
    # return the final round's PERSISTED DataFrame itself (not a projection
    # of it — .unpersist() on a projection would not release the cache): the
    # caller owns the cache and can actually free it.  Schema is
    # (node, old, component) where ``old`` is the previous round's label
    # (equal to ``component`` at convergence); select the two you need.
    return cached


def select_representatives(scored: DataFrame, groups: DataFrame, *,
                           score_col: str,
                           id_col: str = "doc_id",
                           materialize: bool = False) -> DataFrame:
    """Quality-aware keeper election: per near-dup group, keep the member
    with the HIGHEST score (ties broken by MIN id — fully deterministic,
    partitioning-independent).  The min-id ``is_canonical`` policy of
    :func:`dedup_groups` is the right default when members are
    interchangeable; a real curation pipeline keeps the *best* member
    (longest, highest quality score, most recent crawl) — this operator is
    that step.

    ``scored``: ``(id_col, score_col)`` — must cover every grouped id with
    a NON-NULL score (a member missing from ``scored`` silently loses the
    election; an all-NULL-score group elects keep_score NULL via the
    null-safe compare).  ``groups``: output of :func:`dedup_groups`
    (``id_col, group_id, group_size``).

    Returns ``(group_id, keep_id, keep_score, group_size)`` — one row per
    group.

    Scale shape: ``groups`` only contains grouped docs (a sliver of the
    corpus), so it is BROADCAST against the full ``scored`` relation — the
    big side never shuffles; both aggregations run on the grouped sliver
    with map-side partial agg (a window/``row_number`` formulation would
    instead single-task-sort each group, which a boilerplate mega-cluster
    breaks).  Lazy by default: the max-score branch and the election
    branch each evaluate the membership join, i.e. two passes over
    ``scored``; pass ``materialize=True`` to persist the (tiny) member
    sliver for one pass — the result is materialized eagerly and the
    sliver cache released before returning, same contract as
    ``minhash_lsh_pairs``.
    """
    members = (scored.select(id_col, score_col)
               .join(F.broadcast(groups.select(id_col, "group_id",
                                               "group_size")), id_col))
    if materialize:
        members = members.persist()
    best = members.groupBy("group_id").agg(
        F.max(score_col).alias("keep_score"))
    out = (members.join(best, "group_id")
           # eqNullSafe: an all-NULL-score group still elects (min id)
           .where(F.col(score_col).eqNullSafe(F.col("keep_score")))
           .groupBy("group_id")
           .agg(F.min(id_col).alias("keep_id"),
                F.max("keep_score").alias("keep_score"),
                F.max("group_size").alias("group_size")))
    if materialize:
        out = out.persist()
        out.count()
        members.unpersist()
    return out


def drop_non_representatives(df: DataFrame, groups: DataFrame,
                             reps: DataFrame, *,
                             id_col: str = "doc_id") -> DataFrame:
    """Apply a keeper election: drop every grouped doc that is not its
    group's representative; ungrouped docs (the overwhelming majority)
    pass through untouched.  ``groups``/``reps`` as produced by
    :func:`dedup_groups` / :func:`select_representatives`.

    The loser list is group-members minus keepers — small by construction
    — so the apply step is one BROADCAST anti-join: the corpus-side
    relation never shuffles.
    """
    losers = (groups.select(id_col, "group_id")
              .join(reps.select("group_id", "keep_id"), "group_id")
              .where(F.col(id_col) != F.col("keep_id"))
              .select(id_col))
    return df.join(F.broadcast(losers), id_col, "left_anti")


def signature_index(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", *, num_perm: int = 64,
                    seed: int = 42) -> DataFrame:
    """The persistable MinHash signature index: ``(id_col, minhash)`` for
    every doc with at least one shingle (empty-signature docs carry no
    similarity signal and are excluded, mirroring ``_lsh_candidates``).
    At production scale this is written out once as its own table and
    incrementally appended per ingest batch; each batch then probes it via
    :func:`incremental_near_dups` instead of re-running LSH over the whole
    corpus."""
    sig = minhash_signatures(df.select(id_col, text_col), text_col,
                             num_perm=num_perm, seed=seed) \
        .select(id_col, "minhash")
    # docs with NO shingles (shorter than shingle_k) keep the all-U64MAX
    # init signature, which is int64 -1 after the cast — real permutation
    # values are < 2^61, so -1 is unambiguous.  Such docs carry zero
    # similarity signal but would band-collide with every other empty doc
    # at est_jaccard 1.0; exclude them from candidacy entirely.
    return sig.where(F.element_at("minhash", 1) != F.lit(-1))


def _band_hashes(sig: DataFrame, id_col: str, *, num_perm: int,
                 bands: int) -> DataFrame:
    """Explode a signature table to ``(id, band, band_hash)`` rows — the
    banded-LSH bucket keys (same banding expression as
    ``_lsh_candidates``)."""
    rows_per_band = num_perm // bands
    return sig.select(
        id_col,
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.hash(F.slice(
                "minhash", i * rows_per_band + 1, rows_per_band))
        )).alias("band", "band_hash"))


def _est_jaccard(num_perm: int):
    """Signature-agreement Jaccard estimate over re-attached ``mh_a`` /
    ``mh_b`` columns — ONE definition shared by the full-corpus and
    incremental paths (their documented equivalence depends on it)."""
    return (F.size(F.filter(F.zip_with("mh_a", "mh_b",
                                       lambda x, y: x == y),
                            lambda z: z))
            / F.lit(float(num_perm)))


def incremental_near_dups(new_df: DataFrame, index_sig: DataFrame, *,
                          id_col: str = "doc_id", text_col: str = "text",
                          num_perm: int = 64, bands: int = 16,
                          jaccard_threshold: float = 0.7,
                          seed: int = 42) -> DataFrame:
    """Near-dup pairs of an INGEST BATCH against an existing corpus index
    (plus batch-internal pairs) — the 100 TB dedup steady state: after the
    corpus is first deduplicated, each new batch must NOT re-run LSH over
    all N docs; it probes the stored signature index
    (:func:`signature_index`) with only its own signatures.

    Semantics: exactly ``minhash_lsh_pairs(index_docs ∪ new_docs)``
    restricted to pairs touching ≥1 new doc (asserted by the equivalence
    pytest).  Returns ``(doc_a, doc_b, est_jaccard)``, ``doc_a < doc_b``.
    New ids must be disjoint from index ids (run the ingestion dedup gate
    first); a duplicated id would pair with itself at est 1.0.

    Scale shape: the batch's band rows are BROADCAST against the index's
    band rows, so the index side is a pure scan — no index shuffle, cost
    per batch is O(batch + matching buckets), independent of corpus size.
    The est-Jaccard re-attach joins only the (tiny) candidate pairs back
    to the two signature tables.
    """
    new_sig = signature_index(new_df, id_col, text_col,
                              num_perm=num_perm, seed=seed)
    # a width mismatch (index built with a different num_perm) would
    # otherwise produce silently wrong/empty estimates — F.slice on a
    # short signature yields short band slices and est divides by the
    # wrong width; fail loudly per row instead (one size() comparison,
    # negligible next to the banding hash).  The SEED cannot be
    # validated structurally: the index MUST have been built with the
    # same seed (store it alongside the index table).
    index = index_sig.select(id_col, "minhash").where(F.assert_true(
        F.size("minhash") == num_perm,
        F.concat(F.lit("signature index width "),
                 F.size("minhash").cast("string"),
                 F.lit(f" != probe num_perm {num_perm}; rebuild the "
                       f"index or probe with its num_perm"))).isNull())
    all_sig = index.unionByName(new_sig)
    new_bands = _band_hashes(new_sig, id_col, num_perm=num_perm,
                             bands=bands)
    all_bands = _band_hashes(all_sig, id_col, num_perm=num_perm,
                             bands=bands)
    n = new_bands.alias("n")
    a = all_bands.alias("a")
    cand = (a.join(F.broadcast(n),
                   (F.col("a.band") == F.col("n.band"))
                   & (F.col("a.band_hash") == F.col("n.band_hash"))
                   & (F.col(f"a.{id_col}") != F.col(f"n.{id_col}")))
            .select(F.least(F.col(f"a.{id_col}"), F.col(f"n.{id_col}"))
                    .alias("doc_a"),
                    F.greatest(F.col(f"a.{id_col}"), F.col(f"n.{id_col}"))
                    .alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    sa = all_sig.select(F.col(id_col).alias("doc_a"),
                        F.col("minhash").alias("mh_a"))
    sb = all_sig.select(F.col(id_col).alias("doc_b"),
                        F.col("minhash").alias("mh_b"))
    est = _est_jaccard(num_perm)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("est_jaccard", est)
            .where(F.col("est_jaccard") >= jaccard_threshold)
            .select("doc_a", "doc_b",
                    F.round("est_jaccard", 4).alias("est_jaccard")))


def _components_local(edges: list) -> list:
    """Driver-side union-find over a SMALL pair list -> the exact
    ``dedup_groups`` output rows (node, min-member label, component size,
    is_canonical).  Equivalent to :func:`connected_components` + the
    grouping joins by construction: both label every node with the
    smallest reachable member (Python string comparison orders by code
    point, which equals Spark's UTF8String byte order — UTF-8 preserves
    code point order — and numeric ids compare identically)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    sizes: dict = {}
    for node in parent:
        lbl = comp_min[find(node)]
        sizes[lbl] = sizes.get(lbl, 0) + 1
    return [(node, comp_min[find(node)], sizes[comp_min[find(node)]],
             node == comp_min[find(node)]) for node in parent]


def dedup_groups(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", *, shingle_k: int = 5,
                 jaccard_threshold: float = 0.85,
                 num_perm: int = 64, bands: int = 16,
                 seed: int = 42,
                 driver_cc_max_pairs: int = 2_000_000) -> DataFrame:
    """End-to-end near-dup GROUPING: LSH candidates → exact-Jaccard verify
    → connected components → one canonical keeper per group.

    Output: (doc_id, group_id, group_size, is_canonical) for every doc that
    belongs to a near-dup group of size ≥ 2 (singletons carry no dedup
    action and are omitted — at corpus scale they are the overwhelming
    majority, so emitting only grouped docs keeps the result tiny).
    group_id is the lexicographically smallest member; the keeper is that
    same doc (min-id policy, matching :func:`exact_dedup`).

    Physical strategy is ADAPTIVE on the verified pair count (the same
    small-side discipline as a broadcast-join threshold): at or below
    ``driver_cc_max_pairs`` the pair list is collected and components run
    as one driver-side union-find — the iterative label-propagation path
    costs O(diameter) Spark jobs, each paying this-scheduler's fixed
    per-job floor, to converge over a pair set that is tiny by
    construction (verified near-dups at a high threshold).  Above the
    threshold the distributed :func:`connected_components` loop runs
    unchanged (the 100 TB path; ~2M pairs ≈ 10² MB driver ingress is the
    default ceiling; set ``driver_cc_max_pairs=0`` to force it).
    Identical output either way (min-label components, parity-tested).
    """
    # persist the verified pair set: the threshold probe and the collect
    # (or the CC symmetrization + every propagation round) re-read it —
    # without this the LSH+verify pipeline would re-run per consumer
    pairs = verified_near_dups(df, id_col, text_col, shingle_k=shingle_k,
                               jaccard_threshold=jaccard_threshold,
                               num_perm=num_perm, bands=bands,
                               seed=seed).persist()
    if driver_cc_max_pairs:
        n_pairs = pairs.count()
        if n_pairs <= driver_cc_max_pairs:
            from pyspark.sql.types import (BooleanType, LongType,
                                           StructField, StructType)

            edges = [(r[0], r[1])
                     for r in pairs.select("doc_a", "doc_b").collect()]
            pairs.unpersist()
            id_type = df.schema[id_col].dataType
            schema = StructType([
                StructField(id_col, id_type),
                StructField("group_id", id_type),
                StructField("group_size", LongType()),
                StructField("is_canonical", BooleanType())])
            out = df.sparkSession.createDataFrame(
                _components_local(edges), schema)
            # persisted handle returned for a uniform cache contract with
            # the distributed path (the caller owns and releases it)
            return out.persist()
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("group_size"))
    out = (comp.join(sizes, "component")
           .select(F.col("node").alias(id_col),
                   F.col("component").alias("group_id"),
                   "group_size",
                   (F.col("node") == F.col("component"))
                   .alias("is_canonical")))
    # materialize the (tiny — grouped docs only) output eagerly so BOTH
    # upstream caches (the pair set and CC's final labels round) can be
    # released before returning; the caller gets the persisted result
    # itself and can .unpersist() it.  Lineage is kept: a lost block
    # recomputes through the (uncached) upstream — slower, still correct.
    out = out.persist()
    out.count()
    comp.unpersist()
    pairs.unpersist()
    return out
