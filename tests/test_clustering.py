"""k-means clustering + SemDeDup operator semantics, determinism, scale
properties and cache hygiene (``operators/clustering.py``).

The value-level cross-engine parity of the full iteration chain is covered
by the ``kmeans_clusters`` / ``semantic_dedup`` contract rows in
``tests/test_driver_contract.py``; these tests pin the semantics the
oracle cannot see (partitioning independence, empty-cluster handling,
cache lifetime, plan shape, auto_k sizing).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hidden_characters_detector_spark.operators import clustering


def _vec_df(spark, rows, dim=None):
    """rows: list of (id, [coords])."""
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def _cached_rdd_count(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


# ---------------------------------------------------------------- auto_k

def test_auto_k_scales_with_corpus():
    assert clustering.auto_k(100, target_cluster_size=200) == 2   # min_k
    assert clustering.auto_k(2000, target_cluster_size=200) == 10
    assert clustering.auto_k(200000, target_cluster_size=200) == 1000
    # 100x corpus -> ~100x clusters: occupancy (the pair-join cost knob)
    # stays ~constant instead of degenerating quadratic-per-cluster
    k1 = clustering.auto_k(10_000)
    k2 = clustering.auto_k(1_000_000)
    assert 90 <= (k2 / k1) <= 110
    assert clustering.auto_k(10**12, max_k=65536) == 65536        # clamp


# ----------------------------------------------------------- kmeans_assign

def test_kmeans_two_obvious_clusters(spark):
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
            (2, [0.1, 0.0]), (3, [10.1, 10.0]),
            (4, [0.0, 0.1]), (5, [9.9, 10.0])]
    assigned, _ = clustering.kmeans_assign(
        _vec_df(spark, rows), k=2, iters=3, materialize=False)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]


def test_kmeans_partitioning_independent(spark):
    """Init is an id-ordered limit, updates are decimal-exact sums, the
    kernel is per-row pure — so the assignment must not depend on the
    physical partitioning of the input."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = _vec_df(spark, rows)
    a1, _ = clustering.kmeans_assign(df, k=4, iters=3, materialize=False)
    a2, _ = clustering.kmeans_assign(df.repartition(7), k=4, iters=3,
                                     materialize=False)
    r1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    r2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert r1 == r2


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """Two identical init vectors: the exact-distance tie breaks to the
    smaller cluster id, so cluster 1 is EMPTY after the first pass and
    must keep its (duplicate) centroid rather than crash or emit NaN —
    then recaptures the points at the origin once cluster 0's centroid
    has drifted toward the heavier mass (hand-traced Lloyd's run)."""
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [3.0, 0.0]),
            (3, [4.0, 0.0])]
    assigned, _ = clustering.kmeans_assign(
        _vec_df(spark, rows), k=2, iters=3, materialize=False)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got == {0: 1, 1: 1, 2: 0, 3: 0}


def test_kmeans_k_exceeds_corpus_raises(spark):
    with pytest.raises(ValueError, match="exceeds corpus"):
        clustering.kmeans_assign(_vec_df(spark, [(0, [1.0])]), k=5,
                                 iters=1, materialize=False)


def test_kmeans_cache_contract(spark):
    rows = [(i, [float(i % 3), float(i % 5)]) for i in range(30)]
    df = _vec_df(spark, rows)
    spark.catalog.clearCache()
    base = _cached_rdd_count(spark)
    assigned, handle = clustering.kmeans_assign(df, k=2, iters=2,
                                                materialize=False)
    assigned.collect()
    assert handle is None
    assert _cached_rdd_count(spark) == base          # fully lazy
    assigned, handle = clustering.kmeans_assign(df, k=2, iters=2)
    assigned.collect()
    assert _cached_rdd_count(spark) == base + 1      # caller-owned handle
    handle.unpersist()
    assert _cached_rdd_count(spark) == base


# ------------------------------------------------- SemDeDup pair/verdict

def test_semantic_dedup_drops_exact_dup_keeps_first(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]),        # exact dup pair
            (2, [0.0, 1.0]), (3, [-1.0, 0.1])]
    out = clustering.semantic_dedup(_vec_df(spark, rows), k=2, iters=2,
                                    min_cosine=0.99)
    got = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert got[0] is True and got[1] is False        # keep-first-id
    assert got[2] is True and got[3] is True
    assert out.columns == ["vec_id", "cluster", "kept"]


def test_semantic_pairs_cross_cluster_not_candidates(spark):
    """Documented recall contract: a >=tau pair split across clusters is
    not a candidate.  Two identical vectors forced into different
    clusters (each IS an init centroid and k-means keeps them apart via
    the farther mass) produce no pair."""
    rows = [(0, [0.1, 0.0]), (1, [10.0, 10.0]),
            (2, [0.0, 0.1]), (3, [10.0, 10.1])]
    assigned, _ = clustering.kmeans_assign(_vec_df(spark, rows), k=2,
                                           iters=2, materialize=False)
    pairs = clustering.pairs_within_clusters(assigned, min_cosine=-1.0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 2), (1, 3)}                   # cluster-local only


def test_semantic_pairs_zero_vector_never_matches(spark):
    """A zero vector has no direction: its cosine is NULL, not NaN —
    without the guard Spark orders NaN above every double and a zero
    vector would match every cluster-mate at ANY threshold."""
    assigned = spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0)],
        "vec_id long, v array<double>, cluster int")
    pairs = clustering.pairs_within_clusters(assigned, min_cosine=-1.0)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_semantic_dedup_all_kept_when_nothing_similar(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0]),
            (3, [0.0, -1.0])]
    out = clustering.semantic_dedup(_vec_df(spark, rows), k=2, iters=2,
                                    min_cosine=0.99)
    assert all(r["kept"] for r in out.collect())


# ------------------------------------------------------------- plan shape

def test_semantic_plans(spark):
    """Scale assertions: the pair join is a cluster-keyed equi-join (no
    cartesian product), and the verdict applies via a BROADCAST join so
    the corpus side never shuffles for the drop set."""
    rows = [(i, [float(i % 7), float(i % 11), float(i)]) for i in range(50)]
    df = _vec_df(spark, rows)
    assigned, _ = clustering.kmeans_assign(df, k=3, iters=2,
                                           materialize=False)
    pair_plan = clustering.pairs_within_clusters(assigned) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pair_plan
    assert "cluster" in pair_plan

    verdict_plan = clustering.semantic_dedup(df, k=3, iters=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in verdict_plan
    assert "CartesianProduct" not in verdict_plan


def test_kmeans_local_fit_matches_distributed(spark):
    """The driver-local quantizer fit (r6) is bit-identical to the
    distributed Lloyd's loop: same init, same dim-order assignment fold,
    same decimal-exact centroid means — asserted on centroids AND
    assignments, including an empty-cluster round."""
    rng = np.random.default_rng(7)
    rows = [(i, list(np.round(rng.normal(size=5) * 3, 3)))
            for i in range(60)]
    df = _vec_df(spark, rows)
    a_loc, c_loc, _ = clustering.kmeans_fit(
        df, k=6, iters=3, materialize=False)
    a_dist, c_dist, _ = clustering.kmeans_fit(
        df, k=6, iters=3, materialize=False, local_fit_max_vectors=0)
    assert c_loc.shape == c_dist.shape
    assert (c_loc == c_dist).all()          # exact, not approximate
    assert sorted(map(tuple, a_loc.collect())) == \
        sorted(map(tuple, a_dist.collect()))


# ------------------------------------------------- vector decode error paths

_GOOD = [(i, [float(i % 3), float(i // 3)]) for i in range(6)]
_DEFECTS = {
    "null_vector": (None, "NULL vector"),
    "null_element": ([1.0, None], "NULL element"),
    "ragged": ([1.0, 2.0, 3.0], "vector of length"),
}


def _run_kmeans_local(spark, df):
    assigned, _ = clustering.kmeans_assign(df, k=2, materialize=False)
    assigned.collect()


def _run_kmeans_distributed(spark, df):
    assigned, _, _ = clustering.kmeans_fit(
        df, k=2, iters=2, materialize=False, local_fit_max_vectors=0)
    assigned.collect()


def _run_ivf_probe(spark, df):
    from hidden_characters_detector_spark.operators import similarity

    similarity.ivf_probe_lists(
        df.withColumnRenamed("vec_id", "query_id"),
        np.array([[0.0, 0.0], [2.0, 1.0]]), nprobe=1).collect()


@pytest.mark.parametrize("bad_id", [-1, 9], ids=["first", "last"])
@pytest.mark.parametrize("defect", sorted(_DEFECTS))
@pytest.mark.parametrize("run,op", [
    (_run_kmeans_local, "kmeans_assign"),
    (_run_kmeans_distributed, "kmeans_assign"),
    (_run_ivf_probe, "ivf_probe_lists")],
    ids=["kmeans_local", "kmeans_distributed", "ivf_probe_lists"])
def test_vector_decode_rejects_bad_vectors(spark, run, op, defect,
                                          bad_id):
    """A NULL vector, a NULL element or a wrong length fails with a
    ValueError naming the operator: on the driver (the local fit, and the
    distributed init when the bad row has the smallest id) and inside a
    task (where Spark wraps it in a PythonException)."""
    bad_vec, message = _DEFECTS[defect]
    df = spark.createDataFrame(_GOOD + [(bad_id, bad_vec)],
                               "vec_id long, embedding array<double>")
    with pytest.raises(Exception) as err:
        run(spark, df)
    text = str(err.value)
    assert isinstance(err.value, ValueError) or "ValueError" in text
    assert f"{op}: {message}" in text


def test_ivf_dot_pass_empty_batch():
    """An empty candidate batch yields an empty ``_dot`` column."""
    import pyarrow as pa

    from hidden_characters_detector_spark.operators import similarity

    vecs = pa.array([], type=pa.list_(pa.float64()))
    batch = pa.RecordBatch.from_arrays([vecs, vecs], ["qv", "v"])
    out = similarity._dots(batch)
    assert out.type == pa.float64() and len(out) == 0
