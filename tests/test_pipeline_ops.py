"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from pyspark.sql import functions as F

from hidden_characters_detector_spark.operators import (
    dedup, multimodal, similarity, text_analysis)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        ("a1", "the quick brown fox jumps over the lazy dog again and again"),
        ("a2", "the quick brown fox jumps over the lazy dog again and again"),
        ("a3", "the quick brown fox jumped over the lazy dog again and again"),
        ("b1", "completely different content about spark engines and arrow"),
        ("b2", "der schnelle braune fuchs springt und ist nicht mit der"),
        ("c1", "le chat est sur la table et les livres sont pour le prof"),
        ("d1", "el gato es de la casa y los perros son por el parque"),
        ("e1", "zzzzzzzzzzzz 1234567890 !!!???!!! @#$%^&*"),
    ]
    return spark.createDataFrame(base, "doc_id string, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(docs).collect()}
    assert "a1" in out and "a2" not in out          # min-id kept
    assert out["a1"]["group_size"] == 2
    assert out["a3"]["group_size"] == 1
    assert len(out) == 7                            # 8 docs, 1 exact dup


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
           for r in pairs.collect()}
    assert ("a1", "a2") in got and got[("a1", "a2")] == 1.0
    assert ("a1", "a3") in got                      # 1-word edit near-dup
    assert not any("b1" in p for p in got)          # unrelated not paired
    # verification path: true jaccard for candidates
    with_texts = (pairs
                  .join(docs.withColumnRenamed("doc_id", "doc_a")
                        .withColumnRenamed("text", "text_a"), "doc_a")
                  .join(docs.withColumnRenamed("doc_id", "doc_b")
                        .withColumnRenamed("text", "text_b"), "doc_b"))
    verified = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in dedup.ngram_jaccard(with_texts).collect()}
    assert verified[("a1", "a2")] == 1.0
    assert 0.5 < verified[("a1", "a3")] < 1.0


def test_simhash_near_dups(spark, docs):
    fps = {r["doc_id"]: r["simhash"] for r in
           dedup.simhash_fingerprints(docs).collect()}
    assert fps["a1"] == fps["a2"]                   # identical text
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_near_dups(docs, max_hamming=8).collect()}
    assert pairs[("a1", "a2")] == 0
    assert ("a1", "a3") in pairs


def test_sketch_ops_exclude_shingleless_docs(spark):
    """Docs shorter than the shingle length carry NO similarity signal:
    they must not pair with each other (all-empty minhash signatures would
    otherwise est-match at 1.0, and a 0 simhash would Hamming-match every
    other empty doc)."""
    long_a = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [("s1", "ab"), ("s2", "cd"), ("s3", ""),     # < shingle_k
         ("l1", long_a), ("l2", long_a)],
        "doc_id string, text string")
    mh = {(r["doc_a"], r["doc_b"]) for r in
          dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert mh == {("l1", "l2")}
    sh = {(r["doc_a"], r["doc_b"]) for r in
          dedup.simhash_near_dups(docs, max_hamming=3).collect()}
    assert sh == {("l1", "l2")}
    fps = {r["doc_id"]: r["simhash"] for r in
           dedup.simhash_fingerprints(docs).collect()}
    assert fps["s1"] is None and fps["s3"] is None
    assert fps["l1"] is not None


def test_connected_components_chain_and_groups(spark):
    """Min-label propagation finds TRANSITIVE near-dup groups: a chain
    a-b, b-c, c-d is one component even though (a,d) is not a pair; two
    disjoint components keep distinct labels; convergence is detected."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),     # chain, diameter 3
         ("x", "y"),                             # separate 2-clique
         ("m", "z"), ("m", "n")],                # star
        "doc_a string, doc_b string")
    comp = {r["node"]: r["component"] for r in
            dedup.connected_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a",
                    "x": "x", "y": "x",
                    "m": "m", "z": "m", "n": "m"}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_connected_components_hub_skew_star(spark):
    """Giant-component / hub-skew coverage (realistic at corpus scale:
    boilerplate text duplicated across millions of docs makes one node the
    dst of a huge edge fan-in).  A 10k-spoke star must (1) converge in the
    minimum round count — one label round plus the empty convergence round
    when the hub already holds the min id, one extra when the min id sits
    on a spoke and must propagate THROUGH the hub — and (2) stay correct
    when the label side is too big to broadcast (autoBroadcastJoinThreshold
    = -1 forces the shuffled join path, the one AQE's skew-join splits at
    real scale; spark.sql.adaptive.skewJoin.enabled defaults on under the
    AQE conf this suite and the production builders run with)."""
    n = 10_000
    hub_min = spark.range(1, n + 1).selectExpr(
        "'a_hub' AS doc_a", "format_string('s_%06d', id) AS doc_b")
    comp = dedup.connected_components(hub_min, max_iter=2)
    got = {r["node"]: r["component"] for r in comp.collect()}
    comp.unpersist()
    assert len(got) == n + 1
    assert set(got.values()) == {"a_hub"}

    # min id on a SPOKE: label must cross the hub (2 label rounds + 1)
    spoke_min = (spark.range(1, n + 1).selectExpr(
        "'m_hub' AS doc_a", "format_string('s_%06d', id) AS doc_b")
        .unionAll(spark.sql("SELECT 'm_hub' AS doc_a, 'a_min' AS doc_b")))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(spoke_min, max_iter=2)
    comp2 = dedup.connected_components(spoke_min, max_iter=3)
    got2 = {r["node"]: r["component"] for r in comp2.collect()}
    comp2.unpersist()
    assert set(got2.values()) == {"a_min"}
    assert len(got2) == n + 2

    # the skew-prone path: no broadcast available for the label side
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        comp3 = dedup.connected_components(hub_min, max_iter=2)
        got3 = {r["node"]: r["component"] for r in comp3.collect()}
        comp3.unpersist()
        assert got3 == got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dedup_groups_end_to_end(spark):
    """LSH -> verify -> components -> canonical keeper: near-identical doc
    triple collapses to ONE group with the min-id canonical; unrelated and
    singleton docs are omitted."""
    base = ("the streaming engine cleans token sequences and aggregates "
            "window densities per source with salted two phase plans "
            "under watermarks and exactly once sinks at corpus scale " * 3)
    docs = spark.createDataFrame(
        [("g1", base + "tail one"), ("g2", base + "tail two"),
         ("g3", base + "tail three"),
         ("solo", "completely unrelated text about nothing in particular "
                  "that matches no other document in this tiny corpus")],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in
           dedup.dedup_groups(docs, jaccard_threshold=0.8).collect()}
    assert set(out) == {"g1", "g2", "g3"}       # solo omitted
    assert all(r["group_id"] == "g1" and r["group_size"] == 3
               for r in out.values())
    assert out["g1"]["is_canonical"]
    assert not out["g2"]["is_canonical"] and not out["g3"]["is_canonical"]


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.limit(200).collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(cos, 6)))[:5]
    expected = [int(ids[i]) for i in order]
    got = [r["vec_id"] for r in similarity.cosine_topk(
        spark.createDataFrame(rows), q.tolist(), k=5).collect()]
    assert got == expected
    # the query vector itself is rank 1 with cosine 1.0
    top = similarity.cosine_topk(spark.createDataFrame(rows),
                                 q.tolist(), k=1).collect()[0]
    assert top["vec_id"] == int(ids[0]) and abs(top["cosine"] - 1.0) < 1e-6


def test_lsh_topk_recalls_exact_neighbors(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300)
    emb = emb.cache()
    q = emb.limit(1).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in
              similarity.lsh_cosine_topk(emb, q, k=5, nbits=12,
                                         probe_hamming=4).collect()]
    # the query vector itself must always be recalled; decent overlap
    assert exact[0] == approx[0]
    assert len(set(exact) & set(approx)) >= 3


def test_lsh_exhaustive_probe_equals_brute_force(spark):
    """With probe_hamming == nbits every bucket is probed, so the bucketed
    ANN result is provably identical to brute force — the contract that
    lets q_ann_topk_lsh share the exact SQL oracle."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = emb.limit(1).collect()[0]["embedding"]
    exact = [tuple(r) for r in similarity.cosine_topk(emb, q, k=10).collect()]
    exhaustive = [tuple(r) for r in
                  similarity.lsh_cosine_topk(emb, q, k=10, nbits=12,
                                             probe_hamming=12).collect()]
    assert exact == exhaustive


def test_rank_ivf_lists_order_ties_clamp():
    """Probe ranking: nearest-first, exact-tie → smaller list id, nprobe
    clamped to the list count."""
    C = np.array([[0.0, 0.0], [3.0, 4.0], [0.0, 0.0], [1.0, 0.0]])
    assert similarity.rank_ivf_lists(C, [0.0, 0.0], 3) == [0, 2, 3]
    assert similarity.rank_ivf_lists(C, [3.0, 4.0], 1) == [1]
    assert similarity.rank_ivf_lists(C, [0.0, 0.0], 99) == [0, 2, 3, 1]
    with pytest.raises(ValueError):
        similarity.rank_ivf_lists(C, [1.0, 2.0, 3.0], 2)


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    """With nprobe == n_lists every inverted list is probed, so IVF is
    provably identical to brute force over the quantizer's 6-decimal
    vectors — the correctness anchor behind q_ann_topk_ivf (whose
    contract row then parity-checks a PARTIAL probe against a
    full-algorithm oracle)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = emb.limit(1).collect()[0]["embedding"]
    rounded = emb.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x, 6)).alias("v"))
    exact = [tuple(r) for r in
             similarity.cosine_topk(rounded, q, vec_col="v",
                                    k=10).collect()]
    exhaustive = [tuple(r) for r in
                  similarity.ivf_topk(emb, q, k=10, n_lists=4,
                                      nprobe=4, iters=2).collect()]
    assert exact == exhaustive


def test_ivf_partial_probe_recall(spark):
    """A partial probe must recall the query vector itself (its own list
    centroid is by construction among the nearest) and overlap well with
    brute force on a clustered corpus."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = emb.limit(1).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(emb, q, k=5, n_lists=8, nprobe=3,
                                  iters=3).collect()]
    assert exact[0] == approx[0]
    assert len(set(exact) & set(approx)) >= 3


def test_ivf_scoring_plan_is_takeordered(spark):
    """The probe's scoring pass is filter + TakeOrdered — no global sort
    materializes the scored corpus (the property that keeps a 100 TB
    probe's cost at nprobe/n_lists of a scan + an O(k) heap)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.limit(1).collect()[0]["embedding"]
    out = similarity.ivf_topk(emb, q, k=10, n_lists=4, nprobe=2, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_auto_nbits_bounds_bucket_size(spark):
    """auto_nbits keeps max sign-LSH bucket occupancy bounded as the corpus
    grows 10× — the scaling property that keeps the within-bucket pairwise
    join ~target²/2 per bucket instead of degenerating toward quadratic
    (the round-2 fixed-nbits weakness)."""
    from hidden_characters_detector_spark.operators.similarity import (
        auto_nbits)
    target = 64
    maxes = {}
    for n in (2_000, 20_000):
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.rand(seed=j) - F.lit(0.5)
                      for j in range(16)]).alias("embedding"))
        nbits = auto_nbits(n, target_bucket_size=target)
        maxes[n] = (similarity.hyperplane_buckets(df, nbits=nbits)
                    .groupBy("bucket").count()
                    .agg(F.max("count")).collect()[0][0])
    # occupancy stays within a small multiple of target at BOTH sizes —
    # 10x the data must not mean 10x the bucket
    assert maxes[2_000] <= 16 * target
    assert maxes[20_000] <= 16 * target
    assert auto_nbits(20_000) > auto_nbits(2_000)
    # monotone and clamped
    assert auto_nbits(10) == 2
    assert auto_nbits(10**12) == 24


def _signs_bucket(vec, planes) -> int:
    signs = (np.asarray(vec, dtype=np.float64) @ planes) > 0
    return int((signs.astype(np.int64) << np.arange(planes.shape[1])).sum())


@pytest.mark.parametrize("rows", [[None, [1.0, 2.0]],
                                  [[1.0, 2.0], None, [-3.0, 4.0]]],
                         ids=["null_first", "null_inside"])
def test_hyperplane_buckets_null_vector(rows):
    """One Arrow batch: a NULL vector gets a NULL bucket and every other row
    its own sign bucket (a leading NULL used to raise on the NaN length,
    an inner one dropped a bucket so the batch came out a row short)."""
    import pyarrow as pa

    def planes(d):
        return np.random.default_rng(42).standard_normal((d, 16))

    got = similarity._bucket_array(
        pa.array(rows, type=pa.list_(pa.float64())), 16, None,
        planes).to_pylist()
    assert got == [None if r is None else _signs_bucket(r, planes(2))
                   for r in rows]


def test_hyperplane_buckets_rejects_ragged_batch():
    """A vector of another length raises instead of being re-sliced: the
    batch [[1,-2],[3],[-4,5,-6]] once came out as the buckets of
    [[1,-2],[3,-4],[5,-6]]."""
    import pyarrow as pa

    def planes(d):
        return np.random.default_rng(42).standard_normal((d, 16))

    col = pa.array([[1.0, -2.0], [3.0], [-4.0, 5.0, -6.0]],
                   type=pa.list_(pa.float64()))
    with pytest.raises(ValueError,
                       match="hyperplane_buckets: vector of length 1"):
        similarity._bucket_array(col, 16, None, planes)


def test_hyperplane_buckets_null_vector_spark(spark):
    df = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, None), (3, [-3.0, 4.0])],
        "vec_id long, embedding array<double>").coalesce(1)
    got = {r["vec_id"]: r["bucket"] for r in
           similarity.hyperplane_buckets(df, nbits=8).collect()}
    planes = np.random.default_rng(42).standard_normal((2, 8))
    assert got == {0: None, 1: _signs_bucket([1.0, 2.0], planes), 2: None,
                   3: _signs_bucket([-3.0, 4.0], planes)}


def test_embedding_near_dups_fixture_guard(spark):
    """q_embedding_near_dups hash-matches an exact all-pairs oracle; that
    holds iff (a) engine pairs ⊆ exact pairs (true by construction — exact
    cosine inside buckets), (b) planted scaled siblings are always recalled
    (same bucket at any nbits: positive scaling preserves hyperplane
    signs), and (c) the natural corpus has NO ≥0.99 pair that bucket
    pruning could miss.  (c) is a corpus assumption — assert it here so a
    fixture/SF change fails this test loudly instead of flaking the driver
    gate (ADVICE r2)."""
    import __spark_entry__ as entrymod

    planted = entrymod._planted_embeddings(spark, SF_DIR).cache()
    engine = {(r["id_a"], r["id_b"])
              for r in entrymod.q_embedding_near_dups(spark, SF_DIR)
              .collect()}
    l, r = planted.alias("l"), planted.alias("r")
    dot = F.aggregate(F.zip_with("l.embedding", "r.embedding",
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = (lambda side: F.sqrt(F.aggregate(
        F.transform(f"{side}.embedding", lambda x: x * x),
        F.lit(0.0), lambda acc, v: acc + v)))
    exact = {(row["id_a"], row["id_b"]) for row in
             (l.join(r, F.col("l.vec_id") < F.col("r.vec_id"))
              .select(F.col("l.vec_id").alias("id_a"),
                      F.col("r.vec_id").alias("id_b"),
                      F.round(dot / (norm("l") * norm("r")), 6)
                      .alias("cos"))
              .where(F.col("cos") >= 0.99)).collect()}
    base_ids = [r["vec_id"] for r in
                planted.where(F.col("vec_id") < 1_000_000)
                .select("vec_id").collect()]
    planted_pairs = {(v, v + 1_000_000) for v in base_ids if v % 5 == 0}
    assert engine <= exact                       # (a) no false positives
    assert planted_pairs <= engine               # (b) planted recall = 1
    assert exact == planted_pairs, (             # (c) corpus assumption
        "natural >=0.99 cosine pairs appeared; the exact-oracle "
        "hash-match for embedding_near_dups is no longer recall-safe")
    assert engine == exact


def test_bucketed_pairwise_cosine(spark, docs):
    rows = [(i, [float(i % 3 == 0), 1.0, float(i) / 10, 0.5])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.pairwise_cosine_in_buckets(
        df, nbits=4, min_cosine=0.99).collect()
    for r in pairs:
        assert r["cosine"] >= 0.99
        assert r["id_a"] < r["id_b"]


def test_token_counts(spark, docs):
    out = {r["doc_id"]: r for r in
           text_analysis.token_counts(docs).collect()}
    a1 = out["a1"]
    assert a1["n_ws_tokens"] == 12
    assert a1["n_chars_obs"] == len(
        "the quick brown fox jumps over the lazy dog again and again")
    assert out["e1"]["n_bpe_pieces"] > 10  # punctuation split into pieces


def test_quality_scores(spark, docs):
    out = {r["doc_id"]: r for r in
           text_analysis.quality_scores(docs).collect()}
    assert out["a1"]["quality_score"] > out["e1"]["quality_score"]
    assert out["e1"]["digit_ratio"] > 0.2
    assert 0 <= out["a1"]["punct_ratio"] < 0.05


def test_language_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in
           text_analysis.language_id(docs).collect()}
    assert out["a1"] == "en"
    assert out["b2"] == "de"
    assert out["c1"] == "fr"
    assert out["d1"] == "es"
    assert out["e1"] == "und"


def test_fingerprints(spark, docs):
    out = {r["doc_id"]: r for r in
           text_analysis.fingerprints(docs).collect()}
    assert out["a1"]["fp_xxh64"] == out["a2"]["fp_xxh64"]
    assert out["a1"]["fp_xxh64"] != out["a3"]["fp_xxh64"]
    # shingle-min (stride-1 windows) survives an edit near the end of a
    # long doc: the minimal window almost surely lies in the shared prefix
    base = ("spark arrow parquet shuffle broadcast catalyst tungsten "
            "codegen watermark checkpoint exactly once idempotent sink "
            "session window tumbling sliding density skew salt partition "
            "lineage metrics kernel vectorized numpy flat offsets batch ")
    long_docs = spark.createDataFrame(
        [("x1", base + "ending one"), ("x2", base + "ending two"),
         ("y1", "tiny")],
        "doc_id string, text string")
    fp = {r["doc_id"]: r for r in
          text_analysis.fingerprints(long_docs).collect()}
    assert fp["x1"]["fp_shingle_min"] == fp["x2"]["fp_shingle_min"]
    assert fp["x1"]["fp_prefix"] == fp["x2"]["fp_prefix"]
    assert fp["x1"]["fp_xxh64"] != fp["x2"]["fp_xxh64"]
    assert fp["y1"]["fp_shingle_min"] is not None  # shorter than a window


def test_multimodal_plumbing(spark, docs):
    media = multimodal.attach_fake_media(docs)
    assert dict(media.dtypes)["media"] == "binary"
    feat = multimodal.decode_images(media, deterministic_fake=True)
    rows = {r["doc_id"]: r["img_features"] for r in feat.collect()}
    assert all(len(v) == 8 for v in rows.values())
    # deterministic across partitionings
    rows2 = {r["doc_id"]: r["img_features"] for r in
             multimodal.decode_images(media.repartition(5),
                                      deterministic_fake=True).collect()}
    assert rows == rows2
    # without the fake flag: real codec if importable, clear error if not
    if not multimodal.image_codec_available():
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            multimodal.decode_images(media).collect()
    # frame sampling plan is real
    frames = multimodal.sample_frames(media, every_n=24)
    n = frames.groupBy("doc_id").count().collect()
    meta = {r["doc_id"]: r["media_meta"]["n_frames"]
            for r in media.collect()}
    for r in n:
        assert r["count"] == (meta[r["doc_id"]] - 1) // 24 + 1
    audio = multimodal.resample_audio(media, deterministic_fake=True)
    assert dict(audio.dtypes)["audio_features"] == "array<double>"


def test_fingerprints_long_doc_bounded(spark):
    """A 1 MB doc fingerprints without materializing an O(n) hash array
    (incremental F.aggregate fold over strided window starts), and the
    result is deterministic."""
    big = "spark arrow parquet shuffle " * 37450  # ~1.05 MB
    df = spark.createDataFrame([("big1", big), ("big2", big + "tail")],
                               "doc_id string, text string")
    out1 = {r["doc_id"]: tuple(r) for r in
            text_analysis.fingerprints(df).collect()}
    out2 = {r["doc_id"]: tuple(r) for r in
            text_analysis.fingerprints(df.repartition(3)).collect()}
    assert out1 == out2
    assert out1["big1"][1] != out1["big2"][1]       # fp_xxh64 differs
    # identical strided prefix windows dominate the min
    assert out1["big1"][4] == out1["big2"][4]       # fp_shingle_min equal


def test_redact_pii(spark):
    rows = [("p1", "mail me at jo.doe+x@corp.io or 10.0.0.1 tel "
                   "+44 (20) 7946-0958 ok"),
            ("p2", "no pii here at all"),
            ("p3", "")]
    out = {r["doc_id"]: r for r in text_analysis.redact_pii(
        spark.createDataFrame(rows, "doc_id string, text string")).collect()}
    assert "<EMAIL>" in out["p1"]["text_redacted"]
    assert "<IP>" in out["p1"]["text_redacted"]
    assert "<PHONE>" in out["p1"]["text_redacted"]
    assert out["p1"]["n_email"] == 1 and out["p1"]["n_ipv4"] == 1
    assert "jo.doe" not in out["p1"]["text_redacted"]
    assert out["p2"]["text_redacted"] == "no pii here at all"
    assert out["p2"]["n_email"] == 0
    assert out["p3"]["text_redacted"] == ""


def test_length_quantiles_exact_and_approx(spark):
    """Exact per-stratum quantiles match numpy's R-7 interpolation; the
    one-pass approx variant (the at-scale path) stays within tolerance."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("source", "text")
    exact = {r["source"]: r for r in
             text_analysis.length_quantiles(docs, exact=True).collect()}
    rows = docs.withColumn("n", F.length("text")).collect()
    by_src: dict[str, list[int]] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(len(r["text"]))
    for src, lens in by_src.items():
        expect = np.percentile(np.array(lens, dtype=float), 50)  # R-7
        assert abs(exact[src]["p50"] - round(float(expect), 6)) < 1e-9
        assert exact[src]["n_docs"] == len(lens)
    # exact=False is the function DEFAULT (the at-scale plan)
    approx = {r["source"]: r for r in
              text_analysis.length_quantiles(docs).collect()}
    for src in exact:
        spread = max(by_src[src]) - min(by_src[src]) or 1
        assert abs(approx[src]["p50"] - exact[src]["p50"]) <= 0.05 * spread


def test_sampling_deterministic_and_partition_independent(spark):
    """Hash-based split/sample is a pure function of the id: identical
    under repartitioning (df.sample would NOT be), fractions land near
    target, and strata obey their own fractions."""
    from hidden_characters_detector_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "source")
    s1 = {r["doc_id"]: r["split"] for r in
          sampling.train_test_split(docs).collect()}
    s2 = {r["doc_id"]: r["split"] for r in
          sampling.train_test_split(docs.repartition(7)).collect()}
    assert s1 == s2
    frac = sum(v == "train" for v in s1.values()) / len(s1)
    assert 0.6 < frac < 0.95                     # ~0.8 at tiny n
    # stratified: a 0-fraction stratum is empty, a 1.0 stratum complete
    kept = sampling.stratified_sample(
        docs, {"src0": 0.0, "src1": 1.0}, salt=7)
    by_src = {r["source"]: r["cnt"] for r in
              kept.groupBy("source").agg(
                  F.count("*").alias("cnt")).collect()}
    n_src1 = docs.where("source = 'src1'").count()
    assert "src0" not in by_src
    assert by_src.get("src1") == n_src1


def test_vocab_stats_hand_computed(spark):
    """Histogram + entropy vs hand arithmetic, and the scale contract:
    the explode feeds a partial aggregate BEFORE the single token
    shuffle (wordcount shape, shuffle bounded by vocab not corpus)."""
    import math

    from hidden_characters_detector_spark.operators import text_analysis

    df = spark.createDataFrame(
        [("a", [1, 1, 2]), ("b", [1, 3]), ("c", [])],
        "doc_id string, tokens array<int>")
    hist = {r["token"]: r["n_occurrences"] for r in
            text_analysis.token_histogram(df).collect()}
    assert hist == {1: 3, 2: 1, 3: 1}
    row = text_analysis.vocab_stats(df).collect()[0]
    assert (row["n_tokens"], row["vocab_size"],
            row["top_token_count"]) == (5, 3, 3)
    expect = math.log2(5) - (3 * math.log2(3)) / 5
    assert row["unigram_entropy_bits"] == round(expect, 6)

    plan = (text_analysis.token_histogram(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning(token") == 1


def test_repetition_scores_planted(spark):
    """Gopher repetition signals on hand-computable fixtures."""
    from hidden_characters_detector_spark.operators import text_analysis

    rows = [
        ("r0", "alpha beta\nalpha beta\nalpha beta\ngamma"),
        ("r1", "one two three four"),
        ("r2", "word"),          # single word: no bigrams
        ("r3", ""),              # empty doc: all-zero signals
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in
           text_analysis.repetition_scores(df).collect()}
    r0 = got["r0"]
    assert r0["n_lines"] == 4
    assert r0["dup_line_frac"] == 0.5                 # 2 repeats of 4
    assert r0["dup_line_char_frac"] == round(20 / 35, 6)
    # "alpha beta" x3, len 10 -> 30 covered chars of 38
    assert r0["top_bigram_char_frac"] == round(30 / 38, 6)
    assert r0["is_repetitive"]
    r1 = got["r1"]
    assert r1["dup_line_frac"] == 0.0
    assert r1["dup_line_char_frac"] == 0.0
    assert r1["top_bigram_char_frac"] == round(10 / 18, 6)  # "three four"
    r2 = got["r2"]
    assert r2["top_bigram_char_frac"] == 0.0
    assert not r2["is_repetitive"]
    r3 = got["r3"]
    assert (r3["dup_line_frac"], r3["dup_line_char_frac"],
            r3["top_bigram_char_frac"]) == (0.0, 0.0, 0.0)
    assert not r3["is_repetitive"]
    # NULL text scores as empty — a NULL is_repetitive would make a
    # caller's where(~is_repetitive) silently drop the row
    nr = text_analysis.repetition_scores(spark.createDataFrame(
        [("rn", None)], "doc_id string, text string")).collect()[0]
    assert nr["is_repetitive"] is False
    assert nr["n_chars"] == 0


def test_epoch_shuffle_deterministic_independent_permutations(spark):
    """Epoch shuffle: reproducible global order per epoch, independent
    orders across epochs, partitioning-independent, balanced shards."""
    from hidden_characters_detector_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id")
    e1 = [r["doc_id"] for r in
          sampling.epoch_shuffle(docs, epoch=1).collect()]
    e1b = [r["doc_id"] for r in
           sampling.epoch_shuffle(docs.repartition(7), epoch=1).collect()]
    e2 = [r["doc_id"] for r in
          sampling.epoch_shuffle(docs, epoch=2).collect()]
    assert e1 == e1b                       # reproducible + partition-free
    assert sorted(e1) == sorted(e2)        # same corpus...
    assert e1 != e2                        # ...different order per epoch
    # shards balanced in expectation and derived from the key
    sharded = sampling.epoch_shuffle(docs, epoch=1, n_shards=4)
    per = {r["shard"]: r["cnt"] for r in sharded.groupBy("shard")
           .agg(F.count("*").alias("cnt")).collect()}
    assert set(per) == {0, 1, 2, 3}
    n = len(e1)
    assert all(0.1 * n < c < 0.5 * n for c in per.values())


def test_temperature_mix_flattens_source_skew(spark):
    """alpha<1 lifts tail sources relative to head sources, keeps the
    expected total near budget, clamps tail fractions at 1.0, and stays
    deterministic under repartitioning."""
    from hidden_characters_detector_spark.operators import sampling

    counts = {"head": 8000, "mid": 1500, "tail": 120}
    rows = [(f"{s}_{i}", s) for s, c in counts.items() for i in range(c)]
    docs = spark.createDataFrame(rows, "doc_id string, source string")
    budget = 4000
    fr = sampling.temperature_fractions(counts, alpha=0.5,
                                        total_budget=budget)
    # sqrt weighting: keep-rate ordering inverts the size ordering
    assert fr["tail"] > fr["mid"] > fr["head"]
    assert fr["tail"] <= 1.0
    kept = sampling.temperature_mix(docs, counts, alpha=0.5,
                                    total_budget=budget)
    per = {r["source"]: r["cnt"] for r in kept.groupBy("source")
           .agg(F.count("*").alias("cnt")).collect()}
    total = sum(per.values())
    expected = sum(min(counts[s] * fr[s], counts[s]) for s in counts)
    assert abs(total - expected) < 0.15 * expected
    # tail share of the mix rose vs its corpus share
    assert per["tail"] / total > counts["tail"] / sum(counts.values())
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in sampling.temperature_mix(
        docs.repartition(7), counts, alpha=0.5,
        total_budget=budget).collect())
    assert a == b


def test_epoch_shuffle_plan_is_projection_plus_range_sort(spark):
    """The permutation key/shard are codegen projections; the only
    exchange is the range partitioning of the global sort."""
    from hidden_characters_detector_spark.operators import sampling

    docs = spark.range(0, 1000).selectExpr("cast(id as string) AS doc_id")
    plan = (sampling.epoch_shuffle(docs, epoch=1, n_shards=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange rangepartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "md5" in plan          # the key is the deterministic id hash


def test_top_ngrams_tiny_docs(spark):
    """Docs shorter than n words must not error under ANSI element_at."""
    rows = [("a", "one"), ("b", ""), ("c", "two words"),
            ("d", "two words again"), ("e", "two words")]
    out = {r["ngram"]: r["n_occurrences"] for r in text_analysis.top_ngrams(
        spark.createDataFrame(rows, "doc_id string, text string"),
        n=2, k=10).collect()}
    assert out["two words"] == 3
    assert out["words again"] == 1
    assert len(out) == 2


@pytest.mark.skipif(not multimodal.image_codec_available(),
                    reason="PIL not installed (sandbox has no codec libs)")
def test_decode_images_real_codec(spark):
    """Auto-upgrade path: with PIL importable, decode_images (no fake
    flag) decodes real image bytes deterministically into unit-norm
    out_dim features through the same Arrow plumbing."""
    from io import BytesIO

    from PIL import Image

    def png_bytes(shade):
        img = Image.new("L", (16, 16), color=shade)
        buf = BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    df = spark.createDataFrame(
        [("d1", bytearray(png_bytes(40))),
         ("d2", bytearray(png_bytes(200)))],
        "doc_id string, media binary")
    rows = {r["doc_id"]: r["img_features"] for r in
            multimodal.decode_images(df).collect()}
    assert all(len(v) == 8 for v in rows.values())
    rows2 = {r["doc_id"]: r["img_features"] for r in
             multimodal.decode_images(df.repartition(3)).collect()}
    assert rows == rows2                    # partitioning-independent
    # fake flag still wins even when the codec exists (test contract)
    fake = {r["doc_id"]: r["img_features"] for r in
            multimodal.decode_images(df, deterministic_fake=True)
            .collect()}
    assert fake != rows


@pytest.mark.skipif(not multimodal.audio_codec_available(),
                    reason="soundfile not installed (sandbox)")
def test_resample_audio_real_codec(spark):
    """Auto-upgrade path for audio: decode + linear resample + per-segment
    RMS features, deterministic."""
    from io import BytesIO

    import soundfile as sf

    t = np.linspace(0, 1, 8000, endpoint=False)
    wav = np.sin(2 * np.pi * 440 * t)
    buf = BytesIO()
    sf.write(buf, wav, 8000, format="WAV")
    df = spark.createDataFrame([("a1", bytearray(buf.getvalue()))],
                               "doc_id string, media binary")
    out = multimodal.resample_audio(df, target_rate=16000).collect()
    assert len(out) == 1
    feats = out[0]["audio_features"]
    assert len(feats) == 4 and abs(sum(x * x for x in feats) - 1.0) < 1e-9
    assert out[0]["resampled_rate"] == 16000


def _cached_rdd_count(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_dedup_ops_do_not_leak_caches(spark, docs):
    """Cache-lifetime contract (the round-3 advisory's leak class): the
    lazy pair operators leave ZERO persisted tables behind after
    collection; dedup_groups leaves exactly its returned (tiny, eagerly
    materialized) handle, which the caller can actually release."""
    spark.catalog.clearCache()
    base = _cached_rdd_count(spark)

    dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    dedup.verified_near_dups(docs, jaccard_threshold=0.5).collect()
    assert _cached_rdd_count(spark) == base      # fully lazy paths

    out = dedup.dedup_groups(docs, jaccard_threshold=0.5)
    out.collect()
    assert _cached_rdd_count(spark) == base + 1  # only the owned handle
    out.unpersist()
    assert _cached_rdd_count(spark) == base      # and it actually frees

    # the eager opt-in also cleans up everything but its returned handle
    h = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                                materialize=True)
    assert _cached_rdd_count(spark) == base + 1
    h.unpersist()
    assert _cached_rdd_count(spark) == base


def test_split_quarantine_operator(spark):
    """Batch split contract: good keeps the original schema exactly (no
    plumbing column), bad keeps every original column verbatim plus the
    first-matching reason; rule order null_doc_id > null_tokens >
    null_event_time > n_tok_mismatch."""
    from hidden_characters_detector_spark.operators.quarantine import (
        split_quarantine)

    df = spark.createDataFrame(
        [("ok", [1, 2], 2, "w", dt.datetime(2024, 1, 1)),
         (None, None, 0, "w", None),              # 3 rules violated
         ("", [1], 1, "w", dt.datetime(2024, 1, 1)),
         ("bt", None, 0, "w", dt.datetime(2024, 1, 1)),
         ("bn", [1, 2, 3], 9, "w", dt.datetime(2024, 1, 1))],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_time timestamp")
    good, bad = split_quarantine(df)
    assert good.columns == df.columns
    assert [r["doc_id"] for r in good.collect()] == ["ok"]
    reasons = {r["doc_id"]: r["quarantine_reason"] for r in bad.collect()}
    assert reasons == {None: "null_doc_id", "": "null_doc_id",
                       "bt": "null_tokens", "bn": "n_tok_mismatch"}
    # bad rows carry the original payload verbatim
    bn = [r for r in bad.collect() if r["doc_id"] == "bn"][0]
    assert bn["tokens"] == [1, 2, 3] and bn["n_tok"] == 9


def test_select_representatives_and_apply(spark):
    """Quality-aware keeper election: per group argmax score, min-id
    tiebreak, NULL scores lose to any value (all-NULL group still elects
    min id via the null-safe compare); apply drops grouped losers only."""
    groups = spark.createDataFrame(
        [("a1", "a1", 3), ("a2", "a1", 3), ("a3", "a1", 3),
         ("b1", "b1", 2), ("b2", "b1", 2)],
        "doc_id string, group_id string, group_size long")
    scored = spark.createDataFrame(
        [("a1", 10), ("a2", 30), ("a3", 30), ("b1", 5), ("b2", None),
         ("z9", 99)],                       # z9 ungrouped: no election row
        "doc_id string, score int")
    reps_df = dedup.select_representatives(scored, groups,
                                           score_col="score")
    reps = {r["group_id"]: r for r in reps_df.collect()}
    assert set(reps) == {"a1", "b1"}
    assert reps["a1"]["keep_id"] == "a2"            # tie 30/30 -> min id
    assert reps["a1"]["keep_score"] == 30
    assert reps["a1"]["group_size"] == 3
    assert reps["b1"]["keep_id"] == "b1"            # NULL loses to 5
    # all-NULL-score group: min id elected, keep_score NULL
    g2 = spark.createDataFrame(
        [("c1", "c1", 2), ("c2", "c1", 2)],
        "doc_id string, group_id string, group_size long")
    s2 = spark.createDataFrame([("c1", None), ("c2", None)],
                               "doc_id string, score int")
    r2 = dedup.select_representatives(s2, g2, score_col="score").collect()
    assert len(r2) == 1
    assert r2[0]["keep_id"] == "c1" and r2[0]["keep_score"] is None
    # apply: grouped losers dropped, winners + ungrouped pass through
    survivors = {r["doc_id"] for r in dedup.drop_non_representatives(
        scored.select("doc_id"), groups, reps_df).collect()}
    assert survivors == {"a2", "b1", "z9"}


def test_incremental_near_dups_equals_full_restricted(spark):
    """Batch-vs-index probe == full-corpus LSH restricted to pairs that
    touch >=1 new doc; index-internal pairs are NOT re-emitted."""
    long_a = "the quick brown fox jumps over the lazy dog again and again"
    index_docs = spark.createDataFrame(
        [("o1", long_a),
         ("o2", "completely different content about spark and arrow"),
         ("o3", long_a.replace("jumps", "jumped"))],
        "doc_id string, text string")
    new_docs = spark.createDataFrame(
        [("n1", long_a),
         ("n2", long_a + " with an extra tail"),
         ("n3", "der schnelle braune fuchs springt und ist nicht mit")],
        "doc_id string, text string")
    idx = dedup.signature_index(index_docs)
    inc = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
           dedup.incremental_near_dups(new_docs, idx,
                                       jaccard_threshold=0.5).collect()}
    full = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
            dedup.minhash_lsh_pairs(index_docs.unionByName(new_docs),
                                    jaccard_threshold=0.5).collect()}
    new_ids = {"n1", "n2", "n3"}
    expect = {p: v for p, v in full.items()
              if p[0] in new_ids or p[1] in new_ids}
    assert inc == expect
    assert ("n1", "o1") in inc                     # cross pair non-vacuous
    old = {"o1", "o2", "o3"}
    assert not any(a in old and b in old for a, b in inc)


def test_unigram_logprob_hand_computed(spark):
    """Unigram LM scoring: bits = log2(total) - log2(cnt), OOV floor
    cnt=1, per-word 6-decimal rounding summed exactly; empty/NULL docs
    score zeros."""
    import math

    docs = spark.createDataFrame(
        [("d1", "aa bb aa"), ("d2", "aa, zz!"), ("d3", ""), ("d4", None)],
        "doc_id string, text string")
    model = spark.createDataFrame([("aa", 3), ("bb", 1)],
                                  "word string, cnt long")
    out = {r["doc_id"]: r for r in text_analysis.unigram_logprob(
        docs, model, total_words=4).collect()}
    b_aa = round(math.log2(4) - math.log2(3), 6)
    b_1 = round(math.log2(4) - math.log2(1), 6)     # bb and OOV
    assert out["d1"]["n_words"] == 3 and out["d1"]["n_oov"] == 0
    assert out["d1"]["bits_per_word"] == pytest.approx(
        round((2 * b_aa + b_1) / 3, 6), abs=2e-6)
    assert out["d2"]["n_words"] == 2 and out["d2"]["n_oov"] == 1
    assert out["d2"]["oov_frac"] == 0.5
    assert out["d2"]["bits_per_word"] == pytest.approx(
        round((b_aa + b_1) / 2, 6), abs=2e-6)
    for d in ("d3", "d4"):
        assert out[d]["n_words"] == 0 and out[d]["n_oov"] == 0
        assert out[d]["oov_frac"] == 0.0
        assert out[d]["bits_per_word"] == 0.0
    # default total = model mass (documented un-truncated-model case)
    assert len(text_analysis.unigram_logprob(docs, model).collect()) == 4
    wc = {r["word"]: r["cnt"] for r in
          text_analysis.word_counts(docs).collect()}
    assert wc == {"aa": 3, "bb": 1, "zz": 1}


def test_pair_counts_hand_computed(spark):
    """Adjacent-pair census (the BPE merge-counting step) vs hand
    arithmetic: pairs never cross doc boundaries, short/empty docs emit
    nothing, and the plan keeps the wordcount scale shape (partial
    aggregate before the single pair shuffle; top-k plans as
    TakeOrdered, not a global sort)."""
    from hidden_characters_detector_spark.operators import text_analysis

    df = spark.createDataFrame(
        [("a", [1, 2, 1, 2]), ("b", [2, 1]), ("c", [7]), ("d", [])],
        "doc_id string, tokens array<int>")
    got = {(r.token_a, r.token_b): r.n_occurrences for r in
           text_analysis.pair_counts(df).collect()}
    assert got == {(1, 2): 2, (2, 1): 2}

    top = text_analysis.top_pairs(df, k=1).collect()
    # tie on count=2 -> deterministic (a, b) tiebreak picks (1, 2)
    assert [(r.token_a, r.token_b) for r in top] == [(1, 2)]

    plan = (text_analysis.pair_counts(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning(token_a") == 1
    tplan = (text_analysis.top_pairs(df, k=5)
             ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in tplan


def test_tfidf_terms_hand_computed(spark):
    """Smoothed tf-idf per source vs hand arithmetic: tf counts
    occurrences within the source, df counts sources, S is the distinct
    source count, and the top-k cut ranks by (rounded tfidf DESC, word)."""
    import math

    df = spark.createDataFrame(
        [("1", "apple apple banana", "s1"),
         ("2", "banana cherry", "s2"),
         ("3", "apple cherry CHERRY!", "s3"),
         ("4", None, "s3")],
        "doc_id string, text string, source string")
    rows = text_analysis.tfidf_terms(df, top=10).collect()
    got = {(r.source, r.word): (r.tfidf, r.rank) for r in rows}
    idf = math.log(4.0 / 3.0) + 1.0  # every word is in 2 of 3 sources
    assert got[("s1", "apple")] == (round(2 * idf, 6), 1)
    assert got[("s1", "banana")] == (round(1 * idf, 6), 2)
    assert got[("s3", "cherry")] == (round(2 * idf, 6), 1)  # case-folded
    assert got[("s3", "apple")] == (round(1 * idf, 6), 2)
    # top=1 cuts at the rank boundary
    top1 = text_analysis.tfidf_terms(df, top=1).collect()
    assert sorted((r.source, r.word) for r in top1) == [
        ("s1", "apple"), ("s2", "banana"), ("s3", "cherry")]


def test_tfidf_plan_shape(spark):
    """Both aggregations partial-agg map-side and no shuffle carries the
    raw text column (it is consumed by the explode before the first
    exchange) — the properties that bound every tf-idf shuffle by
    vocabulary, not corpus, at 100 TB."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id", "text", "source")
    out = text_analysis.tfidf_terms(docs, top=5, n_sources=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # partial+final, both aggs
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines
    assert all("text" not in ln for ln in exchange_lines)


def test_ivf_batch_exhaustive_probe_equals_brute_force(spark):
    """nprobe == n_lists: every query's batch result equals per-query
    brute force over the quantizer's rounded vectors — the batch analog
    of the single-query anchor."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.ivf_batch_topk(emb, queries, k=3, n_lists=4,
                                    nprobe=4, iters=2).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    rounded = emb.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x, 6)).alias("v"))
    for q in queries.collect():
        exact = similarity.cosine_topk(
            rounded, [round(float(x), 6) for x in q["embedding"]],
            vec_col="v", k=3).collect()
        mine = sorted(by_query[q["query_id"]])
        assert [v for _, v, _ in mine] == [r["vec_id"] for r in exact]


def test_ivf_batch_join_is_cluster_equi(spark):
    """The candidate join is cluster-equi — no cartesian / nested-loop
    product ever appears, and each query emits exactly nprobe probe rows
    (the bound that keeps the query-side shuffle at nprobe× the query
    table, never corpus-shaped)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.limit(7).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_batch_topk(emb, queries, k=2, n_lists=4,
                                    nprobe=2, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # probe fan-out bound
    from hidden_characters_detector_spark.operators import clustering
    _, centroids, _ = clustering.kmeans_fit(
        emb.select("vec_id", "embedding"), k=4, iters=2,
        materialize=False)
    probes = similarity.ivf_probe_lists(queries, centroids, nprobe=2)
    counts = probes.groupBy("query_id").count().collect()
    assert len(counts) == 7 and all(r["count"] == 2 for r in counts)


def test_word_bigram_counts_hand_computed(spark):
    """Word-bigram census: pairs never cross doc boundaries, <2-word and
    NULL docs emit nothing, case folding matches word_counts."""
    df = spark.createDataFrame(
        [("1", "Aa bb aa"), ("2", "bb aa"), ("3", "solo"), ("4", None)],
        "doc_id string, text string")
    got = {(r.word_a, r.word_b): r.cnt for r in
           text_analysis.word_bigram_counts(df).collect()}
    assert got == {("aa", "bb"): 1, ("bb", "aa"): 2}


def test_bigram_logprob_hand_computed(spark):
    """Bigram LM scoring: conditional bits log2(cnt_prev) - log2(cnt_bi)
    when both the bigram AND its predecessor are modelled, unigram
    backoff (with OOV floor) for the first word / unseen bigram /
    unmodelled predecessor; empty docs score zeros."""
    import math

    docs = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "a c"), ("d5", "x y"),
         ("d3", ""), ("d4", None)],
        "doc_id string, text string")
    uni = spark.createDataFrame([("a", 3), ("b", 2), ("y", 2)],
                                "word string, cnt long")
    bi = spark.createDataFrame([("a", "b", 2), ("x", "y", 5)],
                               "word_a string, word_b string, cnt long")
    out = {r["doc_id"]: r for r in text_analysis.bigram_logprob(
        docs, uni, bi, total_words=7).collect()}
    r_a = round(math.log2(7) - math.log2(3), 6)     # unigram a
    r_ab = round(math.log2(3) - math.log2(2), 6)    # p(b|a) = 2/3
    r_oov = round(math.log2(7), 6)                  # OOV floor
    r_y = round(math.log2(7) - math.log2(2), 6)     # unigram y
    d1 = out["d1"]  # a(uni) b(bi) a(backoff: b,a unseen) b(bi)
    assert d1["n_words"] == 4 and d1["n_bigram_hits"] == 2
    assert d1["bits_per_word"] == pytest.approx(
        round((2 * r_a + 2 * r_ab) / 4, 6), abs=2e-6)
    d2 = out["d2"]  # a(uni) c(OOV backoff; (a,c) unseen)
    assert d2["n_words"] == 2 and d2["n_bigram_hits"] == 0
    assert d2["bits_per_word"] == pytest.approx(
        round((r_a + r_oov) / 2, 6), abs=2e-6)
    d5 = out["d5"]  # (x,y) IS in the bigram model but x is not in the
    # unigram model -> backoff (truncated-head consistency rule)
    assert d5["n_bigram_hits"] == 0
    assert d5["bits_per_word"] == pytest.approx(
        round((r_oov + r_y) / 2, 6), abs=2e-6)
    for d in ("d3", "d4"):
        assert out[d]["n_words"] == 0
        assert out[d]["n_bigram_hits"] == 0
        assert out[d]["bits_per_word"] == 0.0


def test_cross_source_overlap_hand_computed(spark):
    """Overlap matrix: distinct shared texts and doc-pair mass per
    unordered source pair; sources with no shared text emit no row; no
    raw text rides any exchange (digest-only shuffles)."""
    df = spark.createDataFrame(
        [("1", "xx", "a"), ("2", "xx", "a"), ("3", "xx", "b"),
         ("4", "yy", "a"), ("5", "yy", "c"), ("6", "zz", "c"),
         ("7", None, "a"), ("8", "", "b")],
        "doc_id string, text string, source string")
    got = {(r.source_a, r.source_b): (r.n_shared_texts, r.n_doc_pairs)
           for r in dedup.cross_source_overlap(df).collect()}
    # 'xx' shared a(2)×b(1); 'yy' shared a(1)×c(1); NULL and '' collapse
    # to the same empty text shared a×b; 'zz' is c-only -> no row for it
    assert got == {("a", "b"): (2, 3), ("a", "c"): (1, 1)}
    plan = (dedup.cross_source_overlap(df)
            ._jdf.queryExecution().executedPlan().toString())
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines
    assert all("text" not in ln for ln in exchange_lines)


def test_ivf_index_reuse_equals_refit(spark):
    """Passing a prebuilt (assigned, centroids) index gives the same
    result as refitting — the production fit-once/serve-many path."""
    from hidden_characters_detector_spark.operators import clustering

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    q = emb.limit(1).collect()[0]["embedding"]
    idx = clustering.kmeans_fit(emb.select("vec_id", "embedding"),
                                k=4, iters=2, materialize=False)[:2]
    refit = similarity.ivf_topk(emb, q, k=5, n_lists=4, nprobe=2,
                                iters=2).collect()
    reuse = similarity.ivf_topk(emb, q, k=5, index=idx,
                                nprobe=2).collect()
    assert [tuple(r) for r in refit] == [tuple(r) for r in reuse]
    queries = emb.limit(3).selectExpr("vec_id AS query_id", "embedding")
    b_refit = similarity.ivf_batch_topk(emb, queries, k=3, n_lists=4,
                                        nprobe=2, iters=2).collect()
    b_reuse = similarity.ivf_batch_topk(emb, queries, k=3, index=idx,
                                        nprobe=2).collect()
    assert sorted(map(tuple, b_refit)) == sorted(map(tuple, b_reuse))


def test_containment_pairs_catches_quoted_chunk(spark):
    """A small doc fully quoted inside a much larger one: containment
    1.0 while symmetric Jaccard sits far below any dedup threshold —
    the asymmetric case the minhash family structurally misses.  Hot
    shingles past max_shingle_df stay out of the pair join but still
    count in the denominator (lower-bound contract)."""
    rng = np.random.default_rng(11)
    big = "".join(chr(ord("a") + int(x))
                  for x in rng.integers(0, 26, 200))
    small = big[50:110]                       # 60 chars, fully contained
    other = "".join(chr(ord("a") + int(x))
                    for x in rng.integers(0, 26, 200))
    df = spark.createDataFrame(
        [("big", big), ("chunk", small), ("other", other), ("tiny", "x")],
        "doc_id string, text string")
    got = {(r.doc_a, r.doc_b): (r.n_shared, r.containment)
           for r in dedup.containment_pairs(df, k=20,
                                            min_containment=0.8).collect()}
    assert set(got) == {("big", "chunk")}
    n_shared, cont = got[("big", "chunk")]
    assert n_shared == 41 and cont == 1.0     # all 41 20-grams shared
    # symmetric Jaccard would be ~41/181 — invisible to minhash dedup
    pairs = dedup.minhash_lsh_pairs(df, jaccard_threshold=0.8)
    assert not any({r["doc_a"], r["doc_b"]} == {"big", "chunk"}
                   for r in pairs.collect())


def test_drop_contained_keeps_larger_doc(spark):
    """Containment-dedup policy: the quoted (smaller-shingle-set) side
    of each >=tau pair drops, the containing doc and unrelated docs
    survive with the original schema."""
    rng = np.random.default_rng(13)
    big = "".join(chr(ord("a") + int(x))
                  for x in rng.integers(0, 26, 200))
    other = "".join(chr(ord("a") + int(x))
                    for x in rng.integers(0, 26, 200))
    df = spark.createDataFrame(
        [("big", big), ("chunk", big[40:120]), ("other", other)],
        "doc_id string, text string")
    out = dedup.drop_contained(df, min_containment=0.9)
    assert out.columns == df.columns
    assert {r["doc_id"] for r in out.collect()} == {"big", "other"}


def test_dedup_groups_driver_cc_matches_distributed(spark):
    """The threshold-gated driver-side union-find (r6) produces exactly
    the distributed label-propagation result (same min-label components,
    sizes, canonicals) — and forcing the distributed path still works."""
    base = ("the streaming engine cleans token sequences and aggregates "
            "window densities per source with salted two phase plans "
            "under watermarks and exactly once sinks at corpus scale " * 3)
    docs = spark.createDataFrame(
        [("g1", base + "tail one"), ("g2", base + "tail two"),
         ("g3", base + "tail three"),
         ("h1", base.replace("engine", "motor") + "x"),
         ("h2", base.replace("engine", "motor") + "y"),
         ("solo", "completely unrelated text about nothing in particular "
                  "that matches no other document in this tiny corpus")],
        "doc_id string, text string")
    a = dedup.dedup_groups(docs, jaccard_threshold=0.8)
    b = dedup.dedup_groups(docs, jaccard_threshold=0.8,
                           driver_cc_max_pairs=0)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    a.unpersist()
    b.unpersist()
    assert ra == rb and len(ra) >= 5
