"""Vector operators vs numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from esper_tv_spark.operators import similarity as sim


def vectors(seed=3, n=60, dim=16):
    rs = np.random.RandomState(seed)
    return [(i, rs.randn(dim).astype(np.float32).tolist(), i % 4) for i in range(n)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(vectors(), "vec_id long, embedding array<float>, label int")


def np_cosine(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_matches_numpy(spark, emb):
    data = vectors()
    q = data[0][1]
    got = [(r["vec_id"], r["cosine_sim"]) for r in sim.cosine_topk(emb, q, 5).collect()]
    sims = sorted(
        ((round(np_cosine(v, q), 6), -i) for i, v, _ in data), reverse=True
    )[:5]
    want_ids = [-neg for _, neg in sims]
    assert [i for i, _ in got] == want_ids
    for (i, s), (ws, wneg) in zip(got, sims):
        assert s == pytest.approx(ws, abs=1e-6)
    assert got[0][0] == 0 and got[0][1] == 1.0  # self-similarity


def test_knn_join(spark, emb):
    data = vectors()
    queries = spark.createDataFrame(
        [(100, data[0][1]), (101, data[1][1])], "q_id long, embedding array<float>"
    )
    out = sim.knn_join(queries, emb, 3)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    assert len(by_q[100]) == 3 and by_q[100][0] == 0
    assert len(by_q[101]) == 3 and by_q[101][0] == 1


def test_mean_embedding(spark, emb):
    data = vectors()
    out = {r["label"]: r["centroid"] for r in sim.mean_embedding(emb, ["label"]).collect()}
    for lbl in range(4):
        member = np.array([v for i, v, l in data if l == lbl], dtype=np.float64)
        want = member.mean(axis=0)
        assert np.allclose(out[lbl], want, atol=1e-9)


def test_ann_recall_vs_exact(spark, emb):
    data = vectors()
    q = data[5][1]
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, q, 5).collect()}
    approx = {r["vec_id"] for r in sim.ann_cosine_topk(emb, q, 5, n_planes=4).collect()}
    # probing bucket + all hamming-1 neighbors of a 4-bit code covers enough
    # of this tiny corpus that recall should be high
    assert len(exact & approx) >= 3


def test_sketch_rerank_exactness_small(spark, emb):
    """With candidates >= corpus size the rerank path IS brute force."""
    data = vectors()
    q = data[7][1]
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, q, 5).collect()]
    got = [r["vec_id"] for r in sim.sketch_rerank_topk(emb, q, 5, candidates=60).collect()]
    assert got == exact


def test_sketch_rerank_shortlist(spark, emb):
    """A 20-candidate shortlist on 60 vectors still recovers most of top-5."""
    data = vectors()
    q = data[7][1]
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, q, 5).collect()}
    got = {r["vec_id"] for r in sim.sketch_rerank_topk(emb, q, 5, n_bits=252, candidates=20).collect()}
    assert len(exact & got) >= 4


@pytest.mark.slow
@pytest.mark.slow
def test_sketch_rerank_recall_sf01(spark):
    """Scale-path recall gate: >=0.9 recall@10 vs brute force at sf0.1
    (2000 x 64-dim embeddings) with a 100-candidate shortlist (5% scan)."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    tot = hit = 0
    for qid in (0, 17, 99, 250, 511):
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).select("embedding").first()[0]]
        exact = {r["vec_id"] for r in sim.cosine_topk(emb, qv, 10).collect()}
        approx = {r["vec_id"] for r in sim.sketch_rerank_topk(emb, qv, 10, candidates=100).collect()}
        tot += 10
        hit += len(exact & approx)
    emb.unpersist()
    assert hit / tot >= 0.9, f"recall {hit/tot:.3f}"


def test_srp_bucket_deterministic(spark, emb):
    planes = sim.random_hyperplanes(16, 4, seed=42)
    b1 = {r["vec_id"]: r["b"] for r in emb.select("vec_id", sim.srp_bucket(F.col("embedding"), planes).alias("b")).collect()}
    planes2 = sim.random_hyperplanes(16, 4, seed=42)
    b2 = {r["vec_id"]: r["b"] for r in emb.select("vec_id", sim.srp_bucket(F.col("embedding"), planes2).alias("b")).collect()}
    assert b1 == b2
    # numpy oracle
    data = vectors()
    P = np.array(planes)
    for i, v, _ in data[:10]:
        want = sum(1 << j for j in range(4) if float(P[j] @ np.array(v, dtype=np.float64)) > 0)
        assert b1[i] == want


def test_dist_sample_exists(spark, emb):
    data = vectors()
    targets = [data[0][1], data[7][1]]
    out = {r["vec_id"]: r["dist"] for r in sim.dist_to_targets(emb, targets).collect()}
    for i, v, _ in data[:8]:
        want = min(
            float(np.linalg.norm(np.array(v, dtype=np.float64) - np.array(t, dtype=np.float64)))
            for t in targets
        )
        assert out[i] == pytest.approx(want, abs=1e-9)
    assert out[0] == pytest.approx(0.0, abs=1e-9)
    s = sim.sample_vectors(emb, 0.3).count()
    assert 0 < s < 60
    ex = {r["vec_id"]: r["exists"] for r in sim.exists_ids(emb, [0, 1, 9999]).collect()}
    assert ex == {0: True, 1: True, 9999: False}


def test_knn_predict_majority_vote(spark):
    rs = np.random.RandomState(1)
    train = [(i, (rs.randn(8) * 0.05 + 3).tolist(), 1) for i in range(15)] + [
        (i + 15, (rs.randn(8) * 0.05 - 3).tolist(), 0) for i in range(15)
    ]
    pred_rows = [(100, (np.ones(8) * 3.0).tolist()), (101, (np.ones(8) * -3.0).tolist())]
    train_df = spark.createDataFrame(train, "vec_id long, embedding array<double>, label int")
    pred_df = spark.createDataFrame(pred_rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["pred_label"] for r in sim.knn_predict(train_df, pred_df, k=5).collect()}
    assert got == {100: 1, 101: 0}


def test_kmeans_and_logreg_smoke(spark):
    # two well-separated blobs -> kmeans separates, logreg classifies
    rs = np.random.RandomState(0)
    a = [(i, (rs.randn(8) * 0.1 + 5).tolist(), 1) for i in range(20)]
    b = [(i + 20, (rs.randn(8) * 0.1 - 5).tolist(), 0) for i in range(20)]
    df = spark.createDataFrame(a + b, "vec_id long, embedding array<double>, label int")
    km = {r["vec_id"]: r["cluster"] for r in sim.kmeans_assign(df, 2).collect()}
    ca = {km[i] for i, _, _ in a}
    cb = {km[i + 0] for i, _, _ in b}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb
    pred = {r["vec_id"]: r["pred_label"] for r in sim.logreg_train_predict(df, df).collect()}
    assert all(pred[i] == 1.0 for i, _, _ in a) and all(pred[i] == 0.0 for i, _, _ in b)


def test_ivf_recall_vs_exact(spark, emb):
    assigned, centers = sim.ivf_fit(emb, n_cells=4)
    q = vectors()[5][1]
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, q, 10).collect()]
    # probing every cell must be exact
    all_cells = {r["vec_id"] for r in sim.ivf_topk(assigned, centers, q, 10, n_probe=4).collect()}
    assert all_cells == set(exact)
    # probing half the cells keeps most of the true top-k
    got = {r["vec_id"] for r in sim.ivf_topk(assigned, centers, q, 10, n_probe=2).collect()}
    assert len(got & set(exact)) >= 5


def test_knn_join_vectorized_matches_expression(spark, emb):
    q = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = emb.where(F.col("vec_id") >= 5)
    a = sorted(tuple(r) for r in sim.knn_join(q, c, 7).collect())
    b = sorted(tuple(r) for r in sim.knn_join_vectorized(q, c, 7).collect())
    # same neighbor sets and 6dp sims (ulp-level matmul differences heal at 6dp)
    assert a == b


def test_pq_encode_matches_numpy_and_adc(spark):
    import numpy as np

    from esper_tv_spark.operators.similarity import pq_encode, pq_fit, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books = pq_fit(emb, m=8, k=16, dim=64)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = pq_encode(emb, books)
    # spot-check encode against straight numpy argmin
    rows = codes.orderBy("vec_id").limit(20).collect()
    cb = [np.asarray(b) for b in books]
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for j in range(8):
            d = ((cb[j] - v[j * 8 : (j + 1) * 8][None, :]) ** 2).sum(axis=1)
            assert r["pq_code"][j] == int(d.argmin())


def test_pq_topk_recall_vs_exact(spark):
    from esper_tv_spark.operators.similarity import cosine_topk, pq_encode, pq_fit, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where("vec_id = 7").first()["embedding"]
    books = pq_fit(emb, m=8, k=16, dim=64)
    codes = pq_encode(emb, books).select("vec_id", "pq_code").cache()
    got = {r["vec_id"] for r in pq_topk(codes, emb, books, q, 10, shortlist=100).collect()}
    want = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
    recall = len(got & want) / 10
    assert recall >= 0.6, f"recall@10 {recall}"
    codes.unpersist()


def test_lloyd_assign_vs_numpy(spark):
    """The closed-form assignment step must equal a numpy argmin replay
    (same 6-dp rounding, ties to smaller cluster id)."""
    import numpy as np

    from esper_tv_spark.operators.similarity import lloyd_assign

    rs = np.random.RandomState(3)
    vecs = rs.randn(40, 6)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["cluster"] for r in lloyd_assign(df, k=4).collect()}
    cents = np.round(vecs[:4], 6)
    for i, v in enumerate(vecs):
        d2 = np.round((v @ v) - 2.0 * (cents @ v) + (cents * cents).sum(axis=1), 6)
        want = int(np.lexsort((np.arange(4), d2))[0])
        assert got[i] == want, i


def test_lloyd_assign_equals_full_kmeans_fixpoint(spark):
    """On well-separated blobs, assignment with the CONVERGED pyspark.ml
    centroids reproduces the ml model's own partition — the two halves of
    kmeans agree."""
    import numpy as np

    from esper_tv_spark.operators.similarity import kmeans_assign, lloyd_assign

    rs = np.random.RandomState(9)
    blobs = np.concatenate(
        [rs.randn(30, 5) * 0.1 + c for c in (np.zeros(5), np.ones(5) * 5, -np.ones(5) * 5)]
    )
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(blobs)],
        "vec_id long, embedding array<double>",
    )
    ml = kmeans_assign(df, k=3, seed=11)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    model = KMeans(k=3, seed=11).fit(feat)
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster long, cvec array<double>",
    )
    closed = lloyd_assign(df, centroids=cents)
    both = (
        ml.withColumnRenamed("cluster", "ml_cluster")
        .join(closed, "vec_id")
        .collect()
    )
    assert all(r["ml_cluster"] == r["cluster"] for r in both)


def test_logreg_score_matches_pyspark_ml(spark):
    """Fixed-coefficient scoring must reproduce pyspark.ml's own
    predictions when given that model's coefficients — the
    train-anywhere/score-at-scale split loses nothing."""
    import numpy as np

    from esper_tv_spark.operators.similarity import logreg_score

    rs = np.random.RandomState(17)
    w_true = rs.randn(6)
    X = rs.randn(200, 6)
    y = (X @ w_true + 0.1 * rs.randn(200) > 0).astype(int)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(200)],
        "vec_id long, embedding array<double>, label long",
    )
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        "vec_id",
        array_to_vector(F.col("embedding")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    model = LogisticRegression(maxIter=50).fit(feat)
    ml_pred = {
        r["vec_id"]: int(r["prediction"])
        for r in model.transform(feat).select("vec_id", "prediction").collect()
    }
    scored = logreg_score(
        df, [float(c) for c in model.coefficients], float(model.intercept)
    )
    ours = {r["vec_id"]: r["pred"] for r in scored.collect()}
    assert ours == ml_pred


def test_ivf_deterministic_recall_vs_exact(spark):
    """The deterministic-quantizer IVF probe: recall vs exact brute force
    grows with n_probe and hits 1.0 at n_probe = n_cells (every cell
    scanned => identical to exact)."""
    from esper_tv_spark.operators.similarity import cosine_topk, ivf_topk_deterministic

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    want = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
    got3 = {r["vec_id"] for r in ivf_topk_deterministic(emb, q, 10, n_cells=16, n_probe=3).collect()}
    assert len(got3 & set(want)) / 10 >= 0.5
    got_all = [r["vec_id"] for r in ivf_topk_deterministic(emb, q, 10, n_cells=16, n_probe=16).collect()]
    assert got_all == want


def test_pq_assign_deterministic_vs_numpy(spark):
    """Deterministic-codebook PQ encode equals a numpy argmin replay with
    the same rounding and tie-break."""
    import numpy as np

    from esper_tv_spark.operators.similarity import pq_assign_deterministic

    rs = np.random.RandomState(31)
    vecs = rs.randn(40, 16)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    m, k, sub = 4, 8, 4
    got = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in pq_assign_deterministic(df, m=m, k=k, dim=16).collect()
    }
    books = np.round(vecs[:k], 6)
    for i, v in enumerate(vecs):
        for j in range(m):
            sv = v[j * sub : (j + 1) * sub]
            scs = books[:, j * sub : (j + 1) * sub]
            d2 = np.round(
                (sv @ sv) - 2.0 * (scs @ sv) + (scs * scs).sum(axis=1), 6
            )
            want = int(np.lexsort((np.arange(k), d2))[0])
            assert got[(i, j)] == want, (i, j)
    assert len(got) == 40 * m


@pytest.mark.slow
def test_near_dup_formula_planes_recall_vs_exact(spark):
    """Recall gate for the corpus-size plane formula at sf0.1 (2000
    vectors -> 6 planes): blocked near-dup pairs at the true-duplicate
    regime (cosine >= 0.8) must recover >=95% of the exact all-pairs
    result. Guards the recommended_planes/recall trade as corpora grow."""
    from esper_tv_spark.operators import dedup

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n = emb.count()
    planes = dedup.recommended_planes(n)
    assert planes == 6
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.8, n_planes=0).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.8, n_planes=planes, seed=42, n_bands=16, dim=64
        ).collect()
    }
    assert blocked <= exact  # blocking never invents pairs
    if exact:
        recall = len(blocked & exact) / len(exact)
        assert recall >= 0.95, f"recall {recall:.3f} over {len(exact)} true pairs"


def test_lloyd_assign_blas_matches_exact(spark):
    """The BLAS assignment (production path) must agree with the
    expression path the oracle replays — including sparse/offset ids and
    argmin ties broken to the smaller cluster id."""
    import numpy as np

    from esper_tv_spark.operators.similarity import lloyd_assign, lloyd_assign_blas

    rng = np.random.default_rng(19)
    ids = [5_000_000 + 3 * i for i in range(60)]
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in ids]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for k in (3, 7, 13):
        exact = {r["vec_id"]: r["cluster"] for r in lloyd_assign(df, k=k).collect()}
        fast = {r["vec_id"]: r["cluster"] for r in lloyd_assign_blas(df, k=k).collect()}
        assert exact == fast


def test_lloyd_assign_blas_matches_on_fixture(spark):
    """Same agreement on the real embeddings fixture (64-dim, 200 rows)."""
    from esper_tv_spark.operators.similarity import lloyd_assign, lloyd_assign_blas

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r["vec_id"]: r["cluster"] for r in lloyd_assign(emb, k=8).collect()}
    fast = {r["vec_id"]: r["cluster"] for r in lloyd_assign_blas(emb, k=8).collect()}
    assert exact == fast


def test_semantic_dedup_fast_assign_matches(spark):
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(29)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    rows.append((999, [v * 1.01 + 1e-4 for v in rows[4][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    slow = sorted(tuple(r) for r in semantic_dedup(df, k=7, threshold=0.95).collect())
    fast = sorted(tuple(r) for r in semantic_dedup(df, k=7, threshold=0.95, fast_assign=True).collect())
    assert slow == fast


def test_pq_dim_fail_closed(spark):
    """pq_fit / pq_assign_deterministic refuse to run a hidden .first()
    dim-sniff job: missing `dim` is a loud ValueError naming the contract
    (the library-wide fail-closed rule, same as build_srp_index)."""
    import pytest

    from esper_tv_spark.operators.similarity import pq_assign_deterministic, pq_fit

    df = spark.createDataFrame([(0, [0.0] * 16)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dim is required"):
        pq_fit(df, m=4, k=2)
    with pytest.raises(ValueError, match="dim is required"):
        pq_assign_deterministic(df, m=4, k=2)


def test_lloyd_assign_blas_empty_partitions(spark):
    """Arrow batches can be empty on skewed partitions — the BLAS assigner
    must skip them, not crash on a 1-D np.array([])."""
    from esper_tv_spark.operators.similarity import lloyd_assign_blas

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<double>"
    ).repartition(16)  # far more partitions than rows -> empty batches
    got = lloyd_assign_blas(df, k=2).collect()
    assert len(got) == 4


def test_ivfpq_residual_reduces_distortion(spark, tmp_path):
    """Residual PQ's actual guarantee: with trained coarse centroids the
    mean reconstruction distortion drops vs raw-vector PQ at identical
    storage (top-k recall is a wash on this isotropic fixture — no
    cluster structure to strip — so distortion is the honest gate)."""
    import os

    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    _, centers = sim.ivf_fit(emb, n_cells=16)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell long, cv array<double>",
    )
    vecs = {r["vec_id"]: np.array(r["embedding"], float) for r in emb.collect()}
    errs = {}
    for tag, resid in (("raw", False), ("res", True)):
        idx = str(tmp_path / tag)
        sim.ivfpq_build_index(
            emb, idx, n_cells=16, m=8, k=16, dim=64,
            by_residual=resid, coarse_centroids=cents,
        )
        cb = {(r["subspace"], r["rk"]): np.array(r["sc"], float)
              for r in spark.read.parquet(os.path.join(idx, "codebooks")).collect()}
        cvs = {r["cell"]: np.array(r["cv"], float)
               for r in spark.read.parquet(os.path.join(idx, "centroids")).collect()}
        err = 0.0
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect():
            rec = np.concatenate([cb[(j, r["codes"][j])] for j in range(8)])
            if resid:
                rec = rec + cvs[r["cell"]]
            err += float(((vecs[r["id"]] - rec) ** 2).sum())
        errs[tag] = err / len(vecs)
    assert errs["res"] < errs["raw"], errs
    # and the residual probe still returns a full, deterministic top-k
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    got = sim.ivfpq_probe_index(spark, str(tmp_path / "res"), q, 10, n_probe=4).collect()
    assert len(got) == 10


def _correlated_fixture(spark, n=1500, dim=16, latent=4, seed=5):
    """Vectors with strong cross-subspace correlation (latent factors mixed
    across all coordinates) — the structure plain PQ wastes codes on and
    an OPQ rotation untangles."""
    rng = np.random.RandomState(seed)
    mix = rng.normal(size=(latent, dim))
    z = rng.normal(size=(n, latent))
    x = z @ mix + rng.normal(scale=0.05, size=(n, dim))
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_opq_train_orthogonal_and_deterministic(spark):
    df = _correlated_fixture(spark)
    r1 = np.array(sim.opq_train(df, m=4, k=16, dim=16, iters=3, sample_rows=512))
    r2 = np.array(sim.opq_train(df, m=4, k=16, dim=16, iters=3, sample_rows=512))
    assert np.allclose(r1, r2)
    assert np.allclose(r1 @ r1.T, np.eye(16), atol=1e-9)


@pytest.mark.slow
def test_opq_reduces_distortion_on_correlated_data(spark, tmp_path):
    """OPQ's guarantee (Ge et al. 2013): the learned rotation re-balances
    variance across PQ subspaces, so reconstruction distortion at
    identical storage drops vs unrotated PQ when coordinates are
    correlated across subspace boundaries.  Errors are compared in each
    index's own space — rotation is an isometry, so the comparison is
    fair."""
    import os

    df = _correlated_fixture(spark)
    vecs = {r["vec_id"]: np.array(r["embedding"], float) for r in df.collect()}
    rot = sim.opq_train(df, m=4, k=16, dim=16, iters=5, sample_rows=1024)
    rmat = np.asarray(rot, float)

    errs = {}
    for tag, kw in (("raw", {}), ("opq", {"opq_rotation": rot})):
        idx = str(tmp_path / tag)
        sim.ivfpq_build_index(df, idx, n_cells=8, m=4, k=16, dim=16, **kw)
        cb = {(r["subspace"], r["rk"]): np.array(r["sc"], float)
              for r in spark.read.parquet(os.path.join(idx, "codebooks")).collect()}
        err = 0.0
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect():
            rec = np.concatenate([cb[(j, r["codes"][j])] for j in range(4)])
            ref = vecs[r["id"]] @ rmat if tag == "opq" else vecs[r["id"]]
            err += float(((ref - rec) ** 2).sum())
        errs[tag] = err / len(vecs)
    assert errs["opq"] < errs["raw"] * 0.9, errs


@pytest.mark.slow
def test_opq_index_equals_prerotated_index(spark, tmp_path):
    """Composed parity: an OPQ index probed with q must equal a plain
    index built on pre-rotated vectors probed with q @ R — the rotation
    plumbing adds nothing else."""
    df = _correlated_fixture(spark)
    rot = sim.opq_train(df, m=4, k=16, dim=16, iters=3, sample_rows=512)
    idx_a = str(tmp_path / "opq")
    idx_b = str(tmp_path / "prerot")
    sim.ivfpq_build_index(df, idx_a, n_cells=8, m=4, k=16, dim=16, opq_rotation=rot)
    sim.ivfpq_build_index(
        sim.rotate_vectors(df, rot), idx_b, n_cells=8, m=4, k=16, dim=16
    )
    q = [float(x) for x in df.where("vec_id = 7").first()["embedding"]]
    q_rot = [float(v) for v in np.round(np.asarray(q) @ np.asarray(rot), 6)]
    got = [tuple(r) for r in sim.ivfpq_probe_index(spark, idx_a, q, 10, n_probe=3).collect()]
    want = [tuple(r) for r in sim.ivfpq_probe_index(spark, idx_b, q_rot, 10, n_probe=3).collect()]
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_ivfsq_probe_matches_numpy_replay(spark, tmp_path):
    """IVF-SQ8's whole pipeline — per-dim bounds, floor/clamp encode,
    affine decode, scaled-BIGINT asymmetric distance — replayed in
    numpy; the probe's top-10 must match exactly."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ivfsq")
    sim.ivfsq_build_index(emb, idx, n_cells=16, dim=64)

    rows = sorted(
        (r["vec_id"], np.array(r["embedding"], np.float64)) for r in emb.collect()
    )
    ids = np.array([r[0] for r in rows])
    x = np.stack([r[1][:64] for r in rows])
    mn, mx = x.min(axis=0), x.max(axis=0)
    rng = mx - mn
    with np.errstate(invalid="ignore", divide="ignore"):
        c = np.floor(((x - mn) / rng) * 256.0)
    c = np.where(rng == 0.0, 0, np.clip(c, 0, 255)).astype(np.int64)
    delta = rng / 256.0
    xhat = mn + (c + 0.5) * delta

    # coarse assignment + probe selection (rank-based, rounded, full dim)
    full = np.stack([r[1] for r in rows])
    cents = np.round(full[:16], 6)
    d2 = np.round(
        (full * full).sum(1)[:, None] - 2.0 * full @ cents.T + (cents * cents).sum(1)[None, :],
        6,
    )
    cell = ids[:16][d2.argmin(axis=1)]
    qfull = full[ids.tolist().index(0)]
    cos = np.round(
        cents @ qfull / (np.linalg.norm(cents, axis=1) * np.linalg.norm(qfull)), 6
    )
    order = sorted(range(16), key=lambda i: (-cos[i], ids[i]))
    probe_cells = {int(ids[i]) for i in order[:3]}

    q64 = qfull[:64]
    terms = np.round(np.round((q64 - xhat) ** 2, 6) * 1e6, 0).astype(np.int64)
    adist = np.round(terms.sum(axis=1) / 1e6, 6)
    keep = [i for i in range(len(ids)) if int(cell[i]) in probe_cells]
    want = sorted(((adist[i], int(ids[i])) for i in keep))[:10]
    want = [(b, a) for a, b in want]

    got = [
        (r["vec_id"], r["adist"])
        for r in sim.ivfsq_probe_index(spark, idx, [float(v) for v in qfull], 10, n_probe=3).collect()
    ]
    assert got == want


def test_ivfsq_reconstruction_error_bounded(spark, tmp_path):
    """Midpoint decode error is at most half a quantization step per
    dimension."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ivfsq_err")
    sim.ivfsq_build_index(emb, idx, n_cells=8, dim=64)
    mn, mx = sim._sq_bounds(idx)
    mn, mx = np.array(mn), np.array(mx)
    delta = (mx - mn) / 256.0
    vecs = {r["vec_id"]: np.array(r["embedding"], np.float64)[:64] for r in emb.collect()}
    for r in spark.read.parquet(os.path.join(idx, "cells")).collect():
        c = np.array(r["codes"], np.float64)
        xhat = mn + (c + 0.5) * delta
        assert (np.abs(vecs[r["id"]] - xhat) <= delta / 2 + 1e-12).all()


@pytest.mark.slow
def test_pq_and_sq_builds_match_expression_reference(spark, tmp_path):
    """Raw, residual and OPQ ivfpq builds and the ivfsq build store the
    rows of their expression reference — `lloyd_assign` cells, the
    rank-based codebooks (`_rank_codebooks`) and
    `pq_encode_with_codebooks` codes (residuals by `zip_with`), and
    `_sq_encode_expr` codes over `sq_fit` bounds — row for row: the
    one-pass build moves no stored byte."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rot = sim.opq_train(emb, m=8, k=16, dim=64, iters=2, sample_rows=256)

    def table(df, cols):
        return sorted(
            tuple(tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols)
            for r in df.collect()
        )

    def stored(idx, sub):
        return spark.read.parquet(os.path.join(idx, sub))

    def reference(df, by_residual):
        cents = df.orderBy("vec_id").limit(16).select(
            F.col("vec_id").alias("cell"),
            F.transform(F.col("embedding").cast("array<double>"), lambda x: F.round(x, 6)).alias("cv"),
        )
        assigned = sim.lloyd_assign(df, k=16).withColumnRenamed("cluster", "cell")
        if by_residual:
            rv = (
                df.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
                .join(assigned, "vec_id")
                .join(F.broadcast(cents), "cell")
                .select("vec_id", F.zip_with("v", "cv", lambda x, y: x - y).alias("rv"))
            )
            seeds = rv.join(F.broadcast(cents.select(F.col("cell").alias("vec_id"))), "vec_id", "left_anti")
            cb = sim._rank_codebooks(seeds, 8, 8, 16, "vec_id", "rv", 6)
            codes = sim.pq_encode_with_codebooks(rv, cb, vec_col="rv")
        else:
            cb = sim._rank_codebooks(df, 8, 8, 16, "vec_id", "embedding", 6)
            codes = sim.pq_encode_with_codebooks(df, cb)
        cells = assigned.join(codes.withColumnRenamed("id", "vec_id"), "vec_id")
        return cents, cells.withColumnRenamed("vec_id", "id"), cb

    for tag, kw in (
        ("raw", {}),
        ("res", {"by_residual": True}),
        ("opq", {"opq_rotation": rot}),
    ):
        idx = str(tmp_path / f"pq_{tag}")
        sim.ivfpq_build_index(emb, idx, n_cells=16, m=8, k=16, dim=64, **kw)
        src = sim.rotate_vectors(emb, rot) if tag == "opq" else emb
        cents, cells, cb = reference(src, tag == "res")
        assert table(stored(idx, "cells"), ["id", "cell", "codes"]) == table(
            cells, ["id", "cell", "codes"]
        ), tag
        assert table(stored(idx, "centroids"), ["cell", "cv"]) == table(cents, ["cell", "cv"]), tag
        cols = ["subspace", "rk", "code", "sc"]
        assert table(stored(idx, "codebooks"), cols) == table(cb, cols), tag

    idx = str(tmp_path / "sq")
    sim.ivfsq_build_index(emb, idx, n_cells=16, dim=64)
    bounds = sorted(sim.sq_fit(emb, 64).collect(), key=lambda r: r["pos"])
    mn, mx = [r["mn"] for r in bounds], [r["mx"] for r in bounds]
    v64 = F.slice(F.col("embedding").cast("array<double>"), 1, 64)
    want = sim.lloyd_assign(emb, k=16).join(
        emb.select("vec_id", sim._sq_encode_expr(v64, mn, mx).alias("codes")), "vec_id"
    )
    assert table(stored(idx, "cells"), ["id", "cell", "codes"]) == table(
        want, ["vec_id", "cluster", "codes"]
    )
    assert table(stored(idx, "sq"), ["pos", "mn", "mx"]) == [tuple(r) for r in bounds]


@pytest.mark.slow
def test_auto_cells_sizes_with_corpus(spark, tmp_path):
    """n_cells='auto' resolves to recommended_cells(count) = round(4*sqrt(n))
    — the scale-safe default the 2M rehearsal motivated (a constant
    n_cells collapses the recall ladder; see recommended_cells) — and
    the built index probes normally; malformed n_cells fail loudly."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    want = sim.recommended_cells(n)
    assert want == int(np.floor(4.0 * np.sqrt(n) + 0.5))

    idx = str(tmp_path / "auto")
    sim.ivf_build_index(emb, idx, n_cells="auto")
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    assert cents.count() == want
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    assert len(sim.ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()) == 10

    idx2 = str(tmp_path / "auto_sq")
    sim.ivfsq_build_index(emb, idx2, dim=64, n_cells="auto")
    assert spark.read.parquet(os.path.join(idx2, "centroids")).count() == want

    with pytest.raises(ValueError, match="n_cells"):
        sim.ivf_build_index(emb, str(tmp_path / "bad"), n_cells=0)
    with pytest.raises(ValueError, match="n_cells"):
        sim.ivf_build_index(emb, str(tmp_path / "bad2"), n_cells="many")
