"""Dedup + similarity-search operator unit tests (hand-built frames)."""

from pyspark.sql import functions as F


def _docs(spark):
    return spark.createDataFrame([
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy dog"),   # exact dup
        ("c", "the quick brown fox jumped over the lazy dog"),  # near dup
        ("d", "completely different content about spark engines"),
    ], "doc_id: string, text: string")


def test_exact_dedup(spark):
    from metasra_pipeline_spark.functions.dedup import exact_dedup
    out = {r["canonical_id"]: r["n_copies"]
           for r in exact_dedup(_docs(spark)).collect()}
    assert out["a"] == 2          # a+b collapse
    assert out["c"] == 1 and out["d"] == 1


def test_minhash_lsh_finds_exact_dup(spark):
    from metasra_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    sig = minhash_signatures(_docs(spark), k=8)
    assert sig.groupBy("doc_id").count().collect()[0]["count"] == 8
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(sig, band_size=4).collect()}
    assert ("a", "b") in pairs            # identical docs share all bands
    assert ("a", "d") not in pairs


def test_jaccard_pairs_near_dup(spark):
    from metasra_pipeline_spark.functions.dedup import jaccard_pairs
    out = {(r["id_a"], r["id_b"]): r["jac"]
           for r in jaccard_pairs(_docs(spark), threshold=0.5,
                                  min_token_len=4, max_df=10).collect()}
    assert out[("a", "b")] == 1.0
    assert 0.5 <= out[("a", "c")] < 1.0   # jumps vs jumped
    assert ("a", "d") not in out


def test_simhash_near_dup_close(spark):
    from metasra_pipeline_spark.functions.dedup import simhash
    h = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert h["a"] == h["b"]
    ham_ac = bin(h["a"] ^ h["c"]).count("1")
    ham_ad = bin(h["a"] ^ h["d"]).count("1")
    assert ham_ac < ham_ad


def test_fingerprint_dup_stable(spark):
    from metasra_pipeline_spark.functions.dedup import doc_fingerprint
    fp = {r["doc_id"]: r["fingerprint"]
          for r in doc_fingerprint(_docs(spark)).collect()}
    assert fp["a"] == fp["b"]
    assert fp["a"] != fp["d"]


def test_cosine_topk_and_ivf(spark):
    from metasra_pipeline_spark.functions.simsearch import (
        cosine_topk,
        ivf_topk,
    )
    emb = spark.createDataFrame([
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 1),
        (4, [-1.0, 0.0, 0.0], 0),
    ], "vec_id: int, embedding: array<float>, label: int")
    top = cosine_topk(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine"] == 1.0
    ivf = ivf_topk(emb, [1.0, 0.0, 0.0], query_label=0, k=3).collect()
    assert [r["vec_id"] for r in ivf] == [1, 2, 4]   # label-pruned


def test_ivf_kmeans_build_and_probe(spark):
    """Real IVF: k-means coarse quantizer + nprobe-list probe recovers
    the brute-force top-k when the query's cluster holds its true
    neighbors."""
    from metasra_pipeline_spark.functions.simsearch import (
        cosine_topk,
        ivf_build,
        ivf_probe,
    )
    rows = ([(i, [1.0 + 0.01 * i, 0.0, 0.0]) for i in range(10)]
            + [(100 + i, [0.0, 1.0 + 0.01 * i, 0.0]) for i in range(10)]
            + [(200 + i, [0.0, 0.0, 1.0 + 0.01 * i]) for i in range(10)])
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>")
    assigned, centroids = ivf_build(emb, n_lists=3, seed=1)
    assert len(centroids) == 3 and len(centroids[0]) == 3
    # every vector got a list; the three orthogonal groups separate
    lists = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    assert len({lists[0], lists[100], lists[200]}) == 3
    q = [0.0, 1.0, 0.05]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=3).collect()]
    approx = [r["vec_id"]
              for r in ivf_probe(assigned, centroids, q, k=3,
                                 nprobe=1).collect()]
    assert approx == exact


def test_lsh_ivf_deterministic_and_recall(spark):
    """Deterministic LSH IVF: bucket assignment is reproducible across
    sessions (pure per-row arithmetic), and the multi-probe schedule
    recovers the brute-force top-k on clustered data; on the sf0.001
    embeddings table, radius-2 multi-probe recall@5 vs brute force is
    asserted with tolerance (ANN, not exact)."""
    import os

    from metasra_pipeline_spark.functions.simsearch import (
        cosine_topk,
        lsh_ivf_assign,
        lsh_ivf_probe,
        lsh_planes,
    )

    # seeded planes are bit-stable
    assert lsh_planes(2, 3, seed=7) == lsh_planes(2, 3, seed=7)

    rows = ([(i, [1.0 + 0.01 * i, 0.0, 0.0]) for i in range(10)]
            + [(100 + i, [0.0, 1.0 + 0.01 * i, 0.0]) for i in range(10)]
            + [(200 + i, [0.0, 0.0, 1.0 + 0.01 * i]) for i in range(10)])
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>")
    assigned, planes = lsh_ivf_assign(emb, n_bits=4)
    a1 = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    a2 = {r["vec_id"]: r["list_id"]
          for r in lsh_ivf_assign(emb, n_bits=4)[0].collect()}
    assert a1 == a2  # deterministic
    q = [0.0, 1.0, 0.05]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=3).collect()]
    approx = [r["vec_id"]
              for r in lsh_ivf_probe(assigned, planes, q, k=3,
                                     radius=1).collect()]
    assert approx == exact  # clustered data: radius-1 probe suffices

    sf = "/root/testdata/sf0.001"
    if os.path.exists(os.path.join(sf, "embeddings.parquet")):
        real = (spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
                .where("vec_id != 0"))
        qv = [float(x) for x in
              spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
              .where("vec_id = 0").first()["embedding"]]
        truth = {r["vec_id"] for r in cosine_topk(real, qv, k=5).collect()}
        asg, pl = lsh_ivf_assign(real, n_bits=4)
        got = {r["vec_id"]
               for r in lsh_ivf_probe(asg, pl, qv, k=5, radius=2).collect()}
        # isotropic synthetic vectors: ANN recall with 11/16 buckets
        assert len(truth & got) / 5 >= 0.6


def test_lsh_projection_margin(spark):
    """The q36 hash-exact oracle is only sound if no projection sits
    within floating-point-accumulation noise of zero (three dot-product
    fold orders are compared: Spark SQL aggregate, Python left fold,
    DuckDB list_dot_product).  Assert the margin on the driver's
    correctness corpora (sf0.001 smoke + sf0.01 oracle gate) at the
    q36 settings is >> the ~1e-12 fold-order error bound for dim=64."""
    import os

    from metasra_pipeline_spark.functions.simsearch import (
        lsh_planes,
        lsh_projection_margin,
    )

    planes = lsh_planes(4, 64)
    for sf in ("sf0.001", "sf0.01"):
        path = os.path.join("/root/testdata", sf, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        emb = spark.read.parquet(path)  # vec_id 0 = the q36 query vector
        margin = lsh_projection_margin(emb, planes)
        assert margin > 1e-6, (sf, margin)


def test_textstats(spark):
    from metasra_pipeline_spark.functions.textstats import (
        lang_id,
        quality_scores,
        token_counts,
    )
    df = spark.createDataFrame(
        [("x", "the cat and the dog in the house"),
         ("y", "der hund und die katze ist da"),
         ("z", "zzz qqq")],
        "doc_id: string, text: string")
    tc = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert tc["x"]["n_ws_tokens"] == 8
    q = {r["doc_id"]: r for r in quality_scores(df).collect()}
    assert 0 < q["x"]["quality"] <= 1
    assert q["x"]["stopword_ratio"] > q["z"]["stopword_ratio"]
    langs = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert langs["x"] == "en" and langs["y"] == "de"
    assert langs["z"] == "unknown"


def test_lsh_bucket_cap_bounds_dup_heavy_corpus(spark):
    """1k exact duplicates land in one band bucket; the max_bucket cap
    drops the oversized buckets instead of emitting ~500k × 4 pairs."""
    from metasra_pipeline_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    rows = [(f"d{i:04d}", "same text every time") for i in range(1000)]
    rows.append(("zz", "completely different content"))
    docs = spark.createDataFrame(rows, "doc_id: string, text: string")
    sig = minhash_signatures(docs, k=8)
    capped = lsh_candidate_pairs(sig, band_size=4, max_bucket=100)
    assert capped.count() == 0            # oversized buckets dropped
    uncapped = lsh_candidate_pairs(sig, band_size=4, max_bucket=None)
    assert uncapped.count() == 1000 * 999 // 2


def test_lsh_projection_margin_on_testdata():
    """Guard for the q36 hash-exact dual-implementation oracle: three
    independent dot-product fold orders (Spark SQL aggregate, Python
    left fold, DuckDB list_dot_product) are compared bit-for-bit, which
    is only stable if no projection sits near zero where FP
    fold-order error (~1e-13 relative) could flip a bucket bit.
    Assert the minimum |projection| margin on the driver's testdata is
    orders of magnitude above that error."""
    import os

    import numpy as np
    import pandas as pd

    from metasra_pipeline_spark.functions.simsearch import lsh_planes

    checked = 0
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        path = os.path.join(sf, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        emb = pd.read_parquet(path, columns=["embedding"])
        mat = np.array([np.asarray(v, dtype=float)
                        for v in emb["embedding"]])
        planes = np.array(lsh_planes(4, mat.shape[1]))
        margin = np.abs(mat @ planes.T).min()
        assert margin > 1e-6, (sf, margin)
        checked += 1
    assert checked > 0


def test_cosine_neardup_semantics(spark):
    """Banded-LSH cosine near-dup: every emitted pair's cosine clears
    the threshold AND is exactly the brute-force cosine for that pair;
    emitted pairs are a subset of the brute-force >=tau set (blocking
    can only lose candidates, never invent or mis-score them); banded
    recall is material (OR over 2 bands)."""
    import numpy as np
    import pandas as pd

    from metasra_pipeline_spark.functions.dedup import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tau = 0.4
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_near_dup_pairs(emb, threshold=tau).collect()}

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    mat = np.array([np.asarray(v, dtype=float) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    truth = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            c = round(float(cos[i, j]), 4)
            if c >= tau:
                a, b = sorted((int(ids[i]), int(ids[j])))
                truth[(a, b)] = c

    assert got, "no near-dup pairs found at tau=0.4 on sf0.001"
    assert set(got) <= set(truth)
    for p, c in got.items():
        assert abs(c - truth[p]) <= 1e-4, (p, c, truth[p])
    recall = len(got) / len(truth)
    assert recall >= 0.3, (len(got), len(truth))


def test_cosine_neardup_threshold_margin_on_testdata():
    """FP-safety guard for the q38 dual-implementation oracle: the
    threshold tau=0.4 must not sit within FP fold-order noise of ANY
    pair's true cosine on the driver's testdata, or Spark's
    aggregate/zip_with and DuckDB's list_cosine_similarity could
    disagree on inclusion.  Measured margins are >=1.2e-4 (sf0.01);
    assert >1e-6, orders of magnitude above ~1e-13 fold noise."""
    import os

    import numpy as np
    import pandas as pd

    checked = 0
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        path = os.path.join(sf, "embeddings.parquet")
        if not os.path.exists(path):
            continue
        pdf = pd.read_parquet(path, columns=["embedding"])
        mat = np.array([np.asarray(v, dtype=float)
                        for v in pdf["embedding"]])
        norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = norm @ norm.T
        iu = np.triu_indices(len(mat), k=1)
        margin = np.abs(cos[iu] - 0.4).min()
        assert margin > 1e-6, (sf, margin)
        checked += 1
    assert checked > 0


def test_knn_label_cap_bounds_skewed_label(spark):
    """max_label_size caps the O(m²) blowup of one hot label
    deterministically; uncapped labels and the default path are
    untouched."""
    from metasra_pipeline_spark.functions.simsearch import (
        knn_join_per_label,
    )
    rows = [(i, [float(i % 7), 1.0], "hot") for i in range(40)]
    rows += [(100 + i, [1.0, float(i)], "cold") for i in range(3)]
    emb = spark.createDataFrame(
        rows, "vec_id: int, embedding: array<float>, label: string")

    capped = knn_join_per_label(emb, k=50, max_label_size=10)
    hot = capped.where("label = 'hot'")
    # 10 kept members -> at most C(10,2) ordered-pair rows
    assert hot.count() <= 45
    assert (hot.select("id_a").union(hot.select("id_b"))
            .distinct().count()) <= 10
    # cold label (3 <= cap) is complete: 3 pairs
    assert capped.where("label = 'cold'").count() == 3
    # deterministic: same subset on a different partitioning
    again = knn_join_per_label(emb.repartition(7), k=50, max_label_size=10)
    assert (sorted(capped.collect()) == sorted(again.collect()))
    # default path is the exact all-pairs contract
    full_hot = knn_join_per_label(emb, k=50).where("label = 'hot'")
    assert (full_hot.select("id_a").union(full_hot.select("id_b"))
            .distinct().count()) == 40


def test_cosine_neardup_numpy_attach_bit_identical(spark):
    """The scale-gated numpy attach kernel (broadcast matrix +
    per-dimension left-to-right fold) must produce the SAME rows and
    the SAME doubles as the JVM attach-join — same blocking, same
    accumulation order, rounding applied JVM-side in both."""
    from metasra_pipeline_spark.functions.dedup import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    jvm = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_near_dup_pairs(emb, numpy_attach=False).collect()}
    np_ = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_near_dup_pairs(emb, numpy_attach=True).collect()}
    assert jvm == np_ and len(jvm) > 0


def test_cosine_neardup_numpy_attach_double_vectors_and_unique_ids(spark):
    """array<double> input: the numpy attach keeps full double precision,
    so its raw cosines equal the JVM attach-join's bit for bit (a float32
    round trip would not); duplicate ids are refused on the numpy path,
    which cannot emit the JVM join's one row per duplicate combination."""
    import pytest

    from metasra_pipeline_spark.functions.dedup import cosine_near_dup_pairs

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .withColumn("embedding", F.transform(
               "embedding", lambda x: x.cast("double") / F.lit(3.0))))
    assert emb.schema["embedding"].dataType.simpleString() == "array<double>"

    def pairs(np_attach):
        return {(r["id_a"], r["id_b"]): r["cosine"]
                for r in cosine_near_dup_pairs(
                    emb, round_to=17, numpy_attach=np_attach).collect()}

    jvm = pairs(False)
    assert jvm and pairs(True) == jvm

    dup = emb.unionByName(emb.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        cosine_near_dup_pairs(dup, numpy_attach=True)


def test_cosine_neardup_numpy_attach_refuses_ragged_vectors(spark):
    """The numpy attach stacks every vector into one matrix, so vectors
    of different lengths are refused rather than misaligned."""
    import pytest

    from metasra_pipeline_spark.functions.dedup import cosine_near_dup_pairs

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [1.0, 0.0, 0.5])],
        "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="ragged"):
        cosine_near_dup_pairs(emb, numpy_attach=True)


def test_cosine_neardup_auto_gate_each_side_of_the_cap(spark, monkeypatch):
    """The auto gate's capped row count: a cap equal to the row count
    takes the numpy attach, one below it the JVM attach-join, and both
    give the same pairs."""
    from metasra_pipeline_spark.functions import dedup
    from metasra_pipeline_spark.functions.dedup import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()

    def run(cap):
        monkeypatch.setattr(dedup, "COSINE_NP_ATTACH_MAX_ROWS", cap)
        df = cosine_near_dup_pairs(emb)
        plan = df._jdf.queryExecution().analyzed().toString()
        return ("MapInPandas" in plan,
                {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()})

    np_side, at_cap = run(n)
    jvm_side, below_cap = run(n - 1)
    assert np_side and not jvm_side
    assert at_cap == below_cap and len(at_cap) > 0
