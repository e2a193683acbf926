"""Similarity search over embedding columns (``embeddings`` table).

Brute-force cosine top-k as the correctness baseline, plus an LSH-bucketed
(random hyperplane / sign-LSH) variant as the scale path: at 100 TB the
brute-force path is a broadcast of the query vector and one scan (fine for
one query), while all-pairs / batch-query search must pre-bucket vectors so
candidates only meet within buckets — the same no-cross-join discipline as
MinHash LSH.

The dot products run JVM-side via higher-order functions (``aggregate`` /
``zip_with``) so the scan stays in whole-stage codegen; the LSH bucketing is
one vectorized Arrow pass.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.synth import append_column, vectors_to_matrix


def _dot(col_a, col_b):
    return F.aggregate(F.zip_with(col_a, col_b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(col):
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk(df: DataFrame, query: Sequence[float], *,
                vec_col: str = "embedding", id_col: str = "vec_id",
                k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against one query vector (JVM-side math)."""
    q = [float(x) for x in query]
    qn = float(np.linalg.norm(q)) or 1.0
    qcol = F.array(*[F.lit(x) for x in q])
    cos = (_dot(F.col(vec_col), qcol)
           / (_norm(F.col(vec_col)) * F.lit(qn)))
    return (df.select(id_col, F.round(cos, 6).alias("cosine"))
            .orderBy(F.desc("cosine"), id_col).limit(k))


def _bucket_array(col: pa.Array, nbits: int, dim: int | None,
                  get_planes) -> pa.Array:
    """Sign-LSH bucket per vector of one Arrow batch; NULL for a NULL
    vector."""
    valid = col.is_valid()
    mat = vectors_to_matrix(col.filter(valid), dim, "hyperplane_buckets")
    signs = (mat @ get_planes(mat.shape[1])) > 0
    bucket = np.zeros(len(col), np.int64)
    mask = valid.to_numpy(zero_copy_only=False)
    bucket[mask] = (signs.astype(np.int64)
                    << np.arange(nbits, dtype=np.int64)).sum(axis=1)
    return pa.array(bucket, type=pa.int32(), mask=~mask)


def hyperplane_buckets(df: DataFrame, *, vec_col: str = "embedding",
                       nbits: int = 16, dim: int | None = None,
                       seed: int = 42) -> DataFrame:
    """Add ``bucket: int`` — sign-LSH bucket from nbits random hyperplanes
    (NULL for a NULL vector).

    Vectors whose angle is small agree on most signs; a batch-query search
    probes only matching (or near-matching) buckets instead of the full
    corpus.  One Arrow pass, one matmul per batch.
    """
    planes: dict[int, np.ndarray] = {}

    def get_planes(d: int) -> np.ndarray:
        if d not in planes:
            planes[d] = np.random.default_rng(seed).standard_normal(
                (d, nbits))
        return planes[d]

    return append_column(df, "bucket int", lambda batch: _bucket_array(
        batch.column(vec_col), nbits, dim, get_planes))


def lsh_cosine_topk(df: DataFrame, query: Sequence[float], *,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    k: int = 10, nbits: int = 16, probe_hamming: int = 2,
                    seed: int = 42) -> DataFrame:
    """Bucketed ANN: score only vectors whose bucket is within
    ``probe_hamming`` bits of the query's bucket, then exact cosine top-k.

    Recall/scan-fraction tradeoff is (sum of C(nbits, i) for i<=probe)/2^nbits.
    At ``probe_hamming == nbits`` every bucket is probed, so the result is
    PROVABLY equal to :func:`cosine_topk` (the exhaustive-probe contract the
    driver's oracle checks); production uses a small probe radius and trades
    recall for scan fraction (asserted separately in pytest).
    """
    bucketed = hyperplane_buckets(df, vec_col=vec_col, nbits=nbits, seed=seed)
    qv = np.asarray(list(query), dtype=np.float64)
    planes = np.random.default_rng(seed).standard_normal((qv.size, nbits))
    qbucket = int(((qv @ planes > 0).astype(np.int64)
                   << np.arange(nbits, dtype=np.int64)).sum())
    cand = bucketed.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qbucket)))
        <= probe_hamming)
    return cosine_topk(cand, query, vec_col=vec_col, id_col=id_col, k=k)


def rank_ivf_lists(centroids: np.ndarray, query: Sequence[float],
                   nprobe: int) -> list[int]:
    """The ``nprobe`` IVF lists (cluster ids) nearest the query, ranked by
    squared distance ACCUMULATED DIM-BY-DIM IN DIM ORDER — the same IEEE
    multiply-add sequence as ``clustering._assign`` and DuckDB's
    sequential ``list_reduce`` fold, so the probe set is bit-identical
    across engines (exact distance ties break to the smaller list id,
    also in both).  Driver-side O(k·dim) numpy — the centroid table is
    the tiny half of an IVF index."""
    from .clustering import sq_dist

    q = np.asarray(list(query), dtype=np.float64)
    k, dim = centroids.shape
    if q.size != dim:
        raise ValueError(f"query dim {q.size} != centroid dim {dim}")
    acc = sq_dist(q[None, :], centroids)[0]
    order = sorted(range(k), key=lambda c: (acc[c], c))
    return order[:max(0, min(nprobe, k))]


def ivf_topk(df: DataFrame, query: Sequence[float], *,
             vec_col: str = "embedding", id_col: str = "vec_id",
             k: int = 10, n_lists: int | None = None, nprobe: int = 2,
             iters: int = 3, n_vectors: int | None = None,
             target_cluster_size: int = 200,
             index: tuple[DataFrame, np.ndarray] | None = None
             ) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    corpus into ``n_lists`` inverted lists; a query scores EXACT cosine
    against only the ``nprobe`` lists whose centroids are nearest — the
    FAISS ``IndexIVFFlat`` shape, and the other classical ANN family next
    to :func:`lsh_cosine_topk` (data-adaptive Voronoi cells vs
    data-oblivious hyperplanes; IVF wins when the corpus is clustered,
    which embedding corpora are).

    Scale shape: the quantizer is ``clustering.kmeans_fit`` (assignment =
    vectorized Arrow passes, centroid update ships only k×(dim+1)
    partial-aggregated sums; ``n_lists`` self-sizes via ``auto_k`` so list
    occupancy stays ~``target_cluster_size`` at ANY corpus size).  At
    100 TB the assignment is computed ONCE and stored partitioned by
    ``cluster`` — the probe's ``cluster IN (...)`` predicate then
    partition-prunes the scan to ``nprobe/n_lists`` of the corpus; the
    centroid table is O(n_lists·dim) driver-side.  The scoring pass is
    JVM-codegen cosine + ``TakeOrdered`` (no global sort), identical to
    :func:`cosine_topk`.

    Exhaustive-probe contract (the provable-correctness anchor, same as
    the LSH path): ``nprobe >= n_lists`` probes every list, so the result
    EQUALS brute force over the quantizer's 6-decimal-rounded vectors —
    asserted in pytest; the driver contract row uses a PARTIAL probe whose
    oracle replicates quantizer + probe ranking + scoring end-to-end
    (recall is parity-checked, not assumed).

    Determinism: centroids follow ``clustering``'s cross-engine protocol;
    probe ranking is :func:`rank_ivf_lists` (dim-order folds, id
    tiebreak); cosine is scored on the quantizer's rounded vectors and
    rounded to 6 decimals before the (cosine DESC, id) top-k order.

    ``index``: a prebuilt ``(assigned, centroids)`` pair from
    ``clustering.kmeans_fit`` over the SAME corpus — the production
    path: fit once, store ``assigned`` partitioned by ``cluster``, and
    serve every query from the stored index (``df`` and the fit
    parameters are then ignored).  Without it, each call refits — fine
    for one-off queries, wasteful in a serving loop.
    """
    from . import clustering

    if index is not None:
        assigned, centroids = index
    else:
        assigned, centroids, _ = clustering.kmeans_fit(
            df.select(id_col, vec_col), vec_col=vec_col, id_col=id_col,
            k=n_lists, iters=iters, n_vectors=n_vectors,
            target_cluster_size=target_cluster_size, materialize=False)
    # NOTE: the query vector is used AS PASSED (the exhaustive-probe
    # contract equates this path with cosine_topk over the same raw
    # query); the BATCH path rounds query vectors to the quantizer's
    # 6-decimal protocol (ivf_probe_lists via _rounded_vectors), so for
    # bit-identical single-vs-batch results pass a 6-decimal query here
    probe = rank_ivf_lists(centroids, query, nprobe)
    cand = assigned.where(F.col("cluster").isin(probe))
    return cosine_topk(cand, query, vec_col="v", id_col=id_col, k=k)


def ivf_probe_lists(queries: DataFrame, centroids: np.ndarray, *,
                    vec_col: str = "embedding",
                    id_col: str = "query_id",
                    nprobe: int = 2) -> DataFrame:
    """Assign each query its ``nprobe`` nearest IVF lists: one vectorized
    Arrow pass (the (batch × k) distance table accumulated dim-by-dim in
    dim order — the ``clustering._assign`` fold, bit-identical to DuckDB's
    ``list_reduce``), stable argsort so exact ties break to the smaller
    list id.  Emits ``nprobe`` rows per query: ``(id, qv, cluster)`` with
    ``qv`` the 6-decimal-rounded query vector (the quantizer's coordinate
    protocol, so downstream cosine folds are cross-engine exact)."""
    from .clustering import _rounded_vectors, sq_dist

    k, dim = centroids.shape
    if not 1 <= nprobe:
        raise ValueError("nprobe must be >= 1")
    nprobe = min(nprobe, k)
    pts = _rounded_vectors(queries, id_col, vec_col)
    id_field = pts.schema[0]
    ddl = (f"{id_field.name} {id_field.dataType.simpleString()}, "
           f"qv array<double>, cluster int")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column("v")
            X = vectors_to_matrix(col, dim, "ivf_probe_lists")
            # stable sort: exact distance ties keep index (= cluster id)
            # order, mirroring the oracle's (dist, cl) window order
            probe = np.argsort(sq_dist(X, centroids), axis=1,
                               kind="stable")[:, :nprobe]
            idx = pa.array(np.repeat(np.arange(len(X)), nprobe))
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_field.name).take(idx), col.take(idx),
                 pa.array(probe.reshape(-1).astype(np.int32),
                          type=pa.int32())],
                names=[id_field.name, "qv", "cluster"])

    return pts.mapInArrow(run, ddl)


def _dots(batch: pa.RecordBatch) -> pa.Array:
    """Per-row dot product of the ``qv`` and ``v`` vectors, accumulated
    ``acc += q_j·v_j`` for j ascending from 0.0 — the identical IEEE
    multiply-add sequence as the JVM/DuckDB left fold."""
    Q = vectors_to_matrix(batch.column("qv"), None, "ivf_batch_topk")
    V = vectors_to_matrix(batch.column("v"), Q.shape[1], "ivf_batch_topk")
    acc = np.zeros(Q.shape[0], dtype=np.float64)
    for j in range(Q.shape[1]):
        acc += Q[:, j] * V[:, j]
    return pa.array(acc, type=pa.float64())


def ivf_batch_topk(corpus: DataFrame, queries: DataFrame, *,
                   vec_col: str = "embedding", corpus_id: str = "vec_id",
                   query_id: str = "query_id", k: int = 10,
                   n_lists: int | None = None, nprobe: int = 2,
                   iters: int = 3, n_vectors: int | None = None,
                   target_cluster_size: int = 200,
                   index: tuple[DataFrame, np.ndarray] | None = None
                   ) -> DataFrame:
    """Batch ANN — a QUERY TABLE against an IVF index, the realistic
    100 TB similarity-search shape (:func:`ivf_topk` is its single-query
    special case): every query meets candidates ONLY inside its ``nprobe``
    nearest inverted lists, so the join is cluster-equi, never all-pairs.

    Scale shape: the quantizer assignment is computed once
    (``clustering.kmeans_fit``; stored partitioned by ``cluster`` in a
    real deployment, so the probe join co-locates with zero corpus
    shuffle); queries replicate ``nprobe``× and shuffle BY CLUSTER — the
    small side moves, the corpus side doesn't; per-candidate cosine is
    JVM-codegen folds; the per-query top-k window sorts ``nprobe ×
    list-occupancy`` candidates per query (held ~constant by ``auto_k``).

    Determinism: the full chain — quantizer, probe ranking
    (:func:`ivf_probe_lists`), cosine on 6-decimal vectors, (cosine DESC,
    corpus id) ranking — follows the ``clustering`` cross-engine
    protocol, so a DuckDB oracle replicates it value-for-value.
    Zero-norm vectors score NULL cosine and are excluded before ranking
    (NULL ordering differs across engines).  Returns
    ``(query_id, vec_id, cosine, rank)``, ``rank <= k``."""
    from pyspark.sql import Window

    from . import clustering

    if index is not None:
        assigned, centroids = index
    else:
        assigned, centroids, _ = clustering.kmeans_fit(
            corpus.select(corpus_id, vec_col), vec_col=vec_col,
            id_col=corpus_id, k=n_lists, iters=iters, n_vectors=n_vectors,
            target_cluster_size=target_cluster_size, materialize=False)
    probes = ivf_probe_lists(queries, centroids, vec_col=vec_col,
                             id_col=query_id, nprobe=nprobe) \
        .withColumn("_nq", _norm(F.col("qv")))
    # norms are per-ROW quantities: computing them before the join makes
    # them once-per-input-row instead of once-per-candidate-pair (each
    # corpus vector meets ~nprobe × queries-per-list candidates) — the
    # fold arithmetic (and therefore every cosine bit) is unchanged
    corpus_side = assigned.withColumn("_nv", _norm(F.col("v")))
    cand = (probes.join(corpus_side, "cluster")
            .select(query_id, corpus_id, "qv", "v",
                    (F.col("_nq") * F.col("_nv")).alias("_denom")))
    # the per-candidate dot product is the one O(pairs × dim) fold left:
    # run it as a vectorized Arrow pass (:func:`_dots`, the same fold, so
    # every cosine bit is unchanged) instead of the interpreted
    # zip_with/aggregate lambda chain
    scored0 = append_column(cand, "_dot double", _dots, drop=("qv", "v"))
    cos = F.when(F.col("_denom") > 0,
                 F.round(F.col("_dot") / F.col("_denom"), 6))
    scored = (scored0.select(query_id, corpus_id, cos.alias("cosine"))
              .where(F.col("cosine").isNotNull()))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"),
                                             F.asc(corpus_id))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


def auto_nbits(n_vectors: int, *, target_bucket_size: int = 128,
               min_nbits: int = 2, max_nbits: int = 24) -> int:
    """Hyperplane count sized to the corpus: expected sign-LSH bucket
    occupancy is ``n / 2^nbits``, so ``nbits = ceil(log2(n / target))``
    keeps the within-bucket pairwise join ~``target²/2`` per bucket at ANY
    corpus size — a fixed nbits degenerates toward quadratic-per-bucket as
    n grows 100×.  Clamped to [min_nbits, max_nbits] (2^24 buckets is
    plenty below 10^10 vectors; for more, raise max_nbits or use
    multi-table OR-construction)."""
    import math

    if n_vectors <= target_bucket_size:
        return min_nbits
    return max(min_nbits, min(max_nbits, math.ceil(
        math.log2(n_vectors / target_bucket_size))))


def pairwise_cosine_in_buckets(df: DataFrame, *, vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               nbits: int | None = None,
                               n_vectors: int | None = None,
                               target_bucket_size: int = 128,
                               min_cosine: float = 0.9,
                               seed: int = 42) -> DataFrame:
    """Embedding near-dup pairs: exact cosine, but only within LSH buckets
    (the embedding-cosine near-dup dedup path).

    ``nbits`` defaults to :func:`auto_nbits` over the corpus size so bucket
    occupancy stays ~``target_bucket_size`` as the corpus scales; pass
    ``n_vectors`` when the count is already known (table statistics /
    Iceberg snapshot summary) to skip the count job.
    """
    if nbits is None:
        if n_vectors is None:
            n_vectors = df.count()
        nbits = auto_nbits(n_vectors, target_bucket_size=target_bucket_size)
    b = hyperplane_buckets(df.select(id_col, vec_col), vec_col=vec_col,
                           nbits=nbits, seed=seed) \
        .withColumn("_n", _norm(F.col(vec_col)))
    # norms once per ROW before the self-join, not once per pair on each
    # side (bucket-local pairs multiply every vector ~occupancy×); the
    # fold arithmetic — and so every cosine bit — is unchanged
    l, r = b.alias("l"), b.alias("r")
    pairs = (l.join(r, (F.col("l.bucket") == F.col("r.bucket"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.col(f"l.{vec_col}").alias("va"),
                     F.col(f"r.{vec_col}").alias("vb"),
                     (F.col("l._n") * F.col("r._n")).alias("_denom")))
    cos = _dot(F.col("va"), F.col("vb")) / F.col("_denom")
    return (pairs.withColumn("cosine", F.round(cos, 6))
            .where(F.col("cosine") >= min_cosine)
            .select("id_a", "id_b", "cosine"))
