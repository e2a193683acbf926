"""Embedding k-means clustering + semantic (SemDeDup-style) dedup.

The curation step the similarity module does not cover: partition the
embedding space into k clusters (Lloyd's iterations), then dedup ONLY
within clusters — "SemDeDup" (Abbas et al. 2023) / SSL-prototypes-style
filtering, the standard way to make embedding-level dedup tractable at
corpus scale (all-pairs cosine is quadratic; within-cluster pairs are
~n·occupancy).

Scale shape (design for 100 TB):

* Assignment is one vectorized Arrow pass per iteration (a (batch × k)
  distance table built dim-by-dim — no per-row Python, no shuffle).
* The centroid update ships ONLY ``k × (dim + 1)`` partial-aggregated
  decimal sums through the one ``groupBy(cluster)`` exchange per
  iteration (map-side partial sums; no vector rides the shuffle raw),
  then reduces to the driver — the same O(k·dim) driver reduce every
  distributed Lloyd's implementation performs per iteration
  (MLlib's KMeans does exactly this); cost is independent of corpus
  size.
* ``k`` self-sizes from the corpus (``auto_k``) so within-cluster
  occupancy — and therefore the semantic-dedup pair join — stays
  ~constant as the corpus grows, mirroring ``similarity.auto_nbits``.
* The input projection is persisted for the iteration loop (it is
  scanned ``iters + 1`` times); the caller owns the returned handle —
  same cache-lifetime contract as ``dedup.minhash_signatures``.

Cross-engine determinism protocol (what makes a value-level DuckDB
oracle possible — see ``__spark_entry__._o_kmeans``):

* input coordinates rounded to 6 decimals (JVM ``round`` ≙ DuckDB
  ``round``);
* initial centroids = the k vectors with the smallest ids (cluster id
  = rank order) — no RNG;
* squared distance accumulated dim-by-dim IN DIM ORDER (a left fold,
  measured BIT-IDENTICAL to DuckDB's sequential ``list_reduce`` —
  same IEEE multiply-add sequence), so the argmin compares unrounded
  doubles with zero cross-engine drift; exact ties (identical
  centroids) break to the smaller cluster id in both engines;
* centroid mean = ``round(double(Σ decimal(coord)) / count, 6)`` —
  the decimal sum is EXACT and accumulation-order independent, so
  partial aggregation across partitions cannot perturb it;
* a cluster that loses all members keeps its previous centroid.

Reference seed: the reference has no clustering (its unit of work is a
line of text — ``/root/reference/hidden-characters-detector.py:740``);
this operator is part of the LLM-training-data surface the brief asks
for beyond the reference inventory.
"""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..sources.synth import append_column, vectors_to_matrix

_ROUND = 6


def auto_k(n_vectors: int, *, target_cluster_size: int = 200,
           min_k: int = 2, max_k: int = 65536) -> int:
    """Cluster count sized to the corpus: expected occupancy ``n / k``
    stays ~``target_cluster_size`` at any scale, so the within-cluster
    pairwise stage stays ~``target²/2`` per cluster — a fixed k
    degenerates toward quadratic-per-cluster as n grows 100×
    (the same fixed-parameter trap ``similarity.auto_nbits`` closes
    for sign-LSH buckets)."""
    if n_vectors <= target_cluster_size:
        return min_k
    return max(min_k, min(max_k, math.ceil(n_vectors / target_cluster_size)))


def _rounded_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        id_col,
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x, _ROUND)).alias("v"))


def sq_dist(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``(n, dim)`` points × ``(k, dim)`` centroids -> ``(n, k)`` squared
    distances accumulated dim by dim IN DIM ORDER: per (row, centroid)
    the oracle's left fold over the zipped difference list, the same IEEE
    multiply-add sequence, so the unrounded distances are bit-identical
    across engines."""
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        d = X[:, j, None] - C[None, :, j]
        acc += d * d
    return acc


def _assign(pts: DataFrame, centroids: np.ndarray) -> DataFrame:
    """One vectorized assignment pass adding ``cluster: int`` = argmin_c
    ‖v−c‖² with ties to the smaller cluster id (matches the oracle's
    ``row_number() OVER (ORDER BY dist, cl)``; ``np.argmin`` takes the
    first minimum)."""
    def cluster(batch: pa.RecordBatch) -> pa.Array:
        X = vectors_to_matrix(batch.column("v"), centroids.shape[1],
                              "kmeans_assign")
        return pa.array(np.argmin(sq_dist(X, centroids), axis=1),
                        type=pa.int32())

    return append_column(pts, "cluster int", cluster)


def _update(assigned: DataFrame, centroids: np.ndarray) -> np.ndarray:
    """Centroid update: per-dim decimal-exact means, k×(dim+1) partial-
    aggregated values through one exchange, O(k·dim) driver reduce.
    Empty clusters keep their previous centroid."""
    k, dim = centroids.shape
    dec = DecimalType(28, _ROUND)
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.col("v")[j].cast(dec)).alias(f"s{j}") for j in range(dim)]
    rows = assigned.groupBy("cluster").agg(*aggs).collect()
    out = centroids.copy()
    for r in rows:
        c = r["cluster"]
        n = r["n"]
        out[c] = [round(float(r[f"s{j}"] or Decimal(0)) / n, _ROUND)
                  for j in range(dim)]
    return out


def _fit_local(pts: pa.Table, k: int, iters: int) -> np.ndarray:
    """Driver-local Lloyd's over the collected ``(id, v)`` table — the
    SAME cross-engine protocol as the distributed loop, step for step:

    * init = the ``k`` vectors with the smallest ids (rank order);
    * assignment = argmin of :func:`sq_dist` (``np.argmin`` takes the
      first minimum — the smaller-cluster-id tiebreak of :func:`_assign`);
    * update = ``round(float(Σ decimal(coord)) / n, 6)`` where
      ``decimal(coord)`` quantizes the double's SHORTEST decimal
      representation to 6 places HALF_UP — exactly what Spark's
      ``cast(double as decimal(28,6))`` computes (``BigDecimal.valueOf``
      is ``Double.toString``-based), so the exact decimal sums, and
      therefore every centroid coordinate, are bit-identical to
      :func:`_update`'s; empty clusters keep their previous centroid.

    The quantizer fit is O(n·k·dim) driver compute over data that was
    going to be scanned ``iters`` times anyway — running it locally
    replaces the per-iteration Spark job ladder (each job paying the
    scheduler's fixed floor) with one collect.
    """
    X = vectors_to_matrix(pts.column(1), None, "kmeans_assign")
    order = pc.sort_indices(pts.column(0)).to_numpy()
    centroids = X[order[:k]].copy()
    # every coordinate is already a 6-decimal value (the rounded
    # projection), so its decimal(28,6) cast is exactly the integer
    # micros np.rint recovers — the sums below are the same exact
    # decimal sums _update's Spark aggregation produces
    micros = np.rint(X * 1e6).astype(np.int64)
    if micros.size and int(np.abs(micros).max()) * len(X) >= 1 << 62:
        raise ValueError("kmeans_fit: coordinates too large for the "
                         "exact int64 decimal sums")
    for _ in range(iters - 1):
        k_, dim = centroids.shape
        cluster = np.argmin(sq_dist(X, centroids), axis=1)
        counts = np.bincount(cluster, minlength=k_)
        sums = np.zeros((k_, dim), dtype=np.int64)
        np.add.at(sums, cluster, micros)
        new = centroids.copy()
        for c in np.nonzero(counts)[0]:
            n = int(counts[c])
            new[c] = [round(float(Decimal(int(sums[c, j])).scaleb(-6))
                            / n, 6) for j in range(dim)]
        centroids = new
    return centroids


def kmeans_fit(df: DataFrame, *, vec_col: str = "embedding",
               id_col: str = "vec_id", k: int | None = None,
               iters: int = 3, n_vectors: int | None = None,
               target_cluster_size: int = 200,
               materialize: bool = True,
               local_fit_max_vectors: int = 100_000
               ) -> tuple[DataFrame, np.ndarray, DataFrame | None]:
    """:func:`kmeans_assign` plus the FITTED CENTROIDS — the ``(k, dim)``
    float64 array the final assignment pass used (i.e. the
    ``iters-1``-times-updated centroids, coordinates already 6-decimal
    values).  The centroid table is the coarse-quantizer "index" an IVF
    search ranks query probes against (`similarity.ivf_topk`); it is
    O(k·dim) driver-side data, never a distributed object.  Returns
    ``(assigned, centroids, cache_handle)``; same cache contract as
    :func:`kmeans_assign`.

    When the corpus is at or below ``local_fit_max_vectors`` rows the
    quantizer TRAINS on the driver (:func:`_fit_local` — one collect of
    the rounded vectors, then local Lloyd's, bit-identical by the
    cross-engine protocol): this is the FAISS convention (quantizers
    train locally on bounded data) and it removes the per-iteration
    Spark job ladder — ``iters`` full jobs each paying the scheduler's
    fixed floor — leaving exactly one distributed assignment pass.
    Above the threshold the distributed loop runs unchanged.  Set
    ``local_fit_max_vectors=0`` to force the distributed loop.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    pts = _rounded_vectors(df, id_col, vec_col)
    if n_vectors is None and local_fit_max_vectors:
        n_vectors = pts.count()
    if local_fit_max_vectors and n_vectors <= local_fit_max_vectors:
        handle = None
        if materialize:
            from pyspark import StorageLevel
            pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
            handle = pts
        try:
            local = pts.toArrow()
            if k is None:
                k = auto_k(local.num_rows,
                           target_cluster_size=target_cluster_size)
            if local.num_rows < k:
                raise ValueError(
                    f"k={k} exceeds corpus size {local.num_rows}")
            centroids = _fit_local(local, k, iters)
        except BaseException:
            if handle is not None:
                handle.unpersist()
            raise
        return _assign(pts, centroids), centroids, handle
    handle = None
    if materialize:
        from pyspark import StorageLevel
        pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
        handle = pts
    try:
        if k is None:
            if n_vectors is None:
                n_vectors = pts.count()
            k = auto_k(n_vectors, target_cluster_size=target_cluster_size)
        init = pts.orderBy(id_col).limit(k).toArrow()
        if init.num_rows < k:
            raise ValueError(f"k={k} exceeds corpus size {init.num_rows}")
        centroids = vectors_to_matrix(init.column("v"), None,
                                      "kmeans_assign")
    except BaseException:
        # don't leak a session-lifetime cache the caller never got a
        # handle to (the module's own cache-lifetime contract)
        if handle is not None:
            handle.unpersist()
        raise
    assigned = _assign(pts, centroids)
    for _ in range(iters - 1):
        centroids = _update(assigned, centroids)
        assigned = _assign(pts, centroids)
    return assigned, centroids, handle


def kmeans_assign(df: DataFrame, *, vec_col: str = "embedding",
                  id_col: str = "vec_id", k: int | None = None,
                  iters: int = 3, n_vectors: int | None = None,
                  target_cluster_size: int = 200,
                  materialize: bool = True
                  ) -> tuple[DataFrame, DataFrame | None]:
    """Lloyd's k-means over an embedding column; returns
    ``(assigned, cache_handle)`` where ``assigned`` carries the input id,
    the 6-decimal-rounded vector ``v`` and ``cluster: int``.

    ``iters`` counts ASSIGNMENT passes (updates happen between them), so
    the output is the assignment under the ``iters-1``-times-updated
    centroids — exactly what the unrolled oracle CTE chain computes.

    With ``materialize=True`` (default) the rounded projection is
    persisted for the iteration loop; the CALLER owns the returned
    handle and must ``.unpersist()`` it when done with the result
    (same contract as ``dedup.minhash_signatures``).  Pass
    ``materialize=False`` to trade ``iters`` extra scans for zero cache
    footprint.
    """
    assigned, _, handle = kmeans_fit(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        n_vectors=n_vectors, target_cluster_size=target_cluster_size,
        materialize=materialize)
    return assigned, handle


def pairs_within_clusters(assigned: DataFrame, *, id_col: str = "vec_id",
                          min_cosine: float = 0.99) -> DataFrame:
    """Within-cluster cosine near-dup pairs (id_a < id_b, rounded cosine)
    over a :func:`kmeans_assign` result — the SemDeDup candidate stage:
    pairs only MEET inside a cluster, so the join is cluster-local (no
    all-pairs, no cartesian; occupancy is held ~constant by ``auto_k``).
    Deliberate recall contract (documented, same as every bucketed dedup
    path here): a ≥τ pair split across clusters is not a candidate.
    Cosine runs JVM-side (``zip_with``/``aggregate`` folds — the same
    sequential fold the oracle's ``list_reduce`` performs)."""
    # the norm is a per-ROW quantity: compute it ONCE per vector before
    # the self-join instead of once per pair on each side (cluster-local
    # pairs multiply every vector ~occupancy×); identical fold, so every
    # cosine bit is unchanged
    with_n = assigned.withColumn("_n", F.sqrt(F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0.0), lambda a, x: a + x)))
    l, r = with_n.alias("l"), with_n.alias("r")
    dot = F.aggregate(F.zip_with(F.col("l.v"), F.col("r.v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)

    # zero vectors have no direction: cosine is NULL for them (a raw
    # 0/0 would be NaN, which Spark orders ABOVE every double — a zero
    # vector would otherwise "match" every cluster-mate at any threshold)
    denom = F.col("l._n") * F.col("r._n")
    cos = F.when(denom > 0, F.round(dot / denom, _ROUND))
    return (l.join(r, (F.col("l.cluster") == F.col("r.cluster"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                    F.col("l.cluster").alias("cluster"),
                    cos.alias("cosine"))
            .where(F.col("cosine") >= min_cosine))


def semantic_near_dups(df: DataFrame, *, vec_col: str = "embedding",
                       id_col: str = "vec_id", k: int | None = None,
                       iters: int = 3, min_cosine: float = 0.99,
                       n_vectors: int | None = None,
                       target_cluster_size: int = 200) -> DataFrame:
    """k-means → within-cluster cosine pairs, one call.  Zero cache
    footprint (``materialize=False`` k-means — the projection is
    re-scanned per iteration); production pipelines that reuse the
    assignment should call :func:`kmeans_assign` once (persisted) and
    compose :func:`pairs_within_clusters` / :func:`semantic_dedup`
    themselves, owning the cache handle."""
    assigned, _ = kmeans_assign(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        n_vectors=n_vectors, target_cluster_size=target_cluster_size,
        materialize=False)
    return pairs_within_clusters(assigned, id_col=id_col,
                                 min_cosine=min_cosine)


def semantic_dedup(df: DataFrame, *, vec_col: str = "embedding",
                   id_col: str = "vec_id", k: int | None = None,
                   iters: int = 3, min_cosine: float = 0.99,
                   n_vectors: int | None = None,
                   target_cluster_size: int = 200) -> DataFrame:
    """SemDeDup keep/drop verdict: a vector is DROPPED iff some
    same-cluster vector with a SMALLER id is ≥``min_cosine`` similar
    (keep-first-id — deterministic under any partitioning).  Returns
    ``(id, cluster, kept)`` for every input row.

    The drop set is built from the within-cluster pair list and applied
    with a BROADCAST join (the drop set is ≤ the near-dup count, tiny
    relative to the corpus), so the corpus side never shuffles for the
    verdict.  Zero cache footprint (see :func:`semantic_near_dups`)."""
    assigned, _ = kmeans_assign(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        n_vectors=n_vectors, target_cluster_size=target_cluster_size,
        materialize=False)
    pairs = pairs_within_clusters(assigned, id_col=id_col,
                                  min_cosine=min_cosine)
    dropped = (pairs.select(F.col("id_b").alias(id_col)).distinct()
               .withColumn("_drop", F.lit(True)))
    return (assigned
            .join(F.broadcast(dropped), id_col, "left")
            .select(id_col, "cluster",
                    F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept")))
