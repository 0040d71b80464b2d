"""Text + dedup operators vs pure-Python oracles."""

import hashlib

import pytest
from pyspark.sql import functions as F

from esper_tv_spark.operators import dedup, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different words entirely here now"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (5, "a b"),  # shorter than shingle size
    (6, "uno dos tres"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_tokenize_and_ngrams(spark, docs):
    tt = text.token_table(docs.where(F.col("doc_id") == 1), "doc_id")
    toks = [r["token"] for r in tt.orderBy("pos").collect()]
    assert toks == "the quick brown fox jumps over the lazy dog".split()
    ng = text.ngrams(docs, 3, "doc_id")
    got = sorted(r["ngram"] for r in ng.where(F.col("doc_id") == 6).collect())
    assert got == ["uno dos tres"]
    assert ng.where(F.col("doc_id") == 5).count() == 0  # shorter than n


def test_phrase_search(spark, docs):
    got = {r["doc_id"]: r["n_matches"] for r in text.phrase_search(docs, "quick brown").collect()}
    assert got == {1: 1, 2: 1, 4: 1}
    assert text.phrase_search(docs, "brown cat").count() == 0


def test_phrase_search_overlapping_and_multispace(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a"),        # "a a" starts at positions 0 and 1 -> 2
            (2, "x  y"),         # double space must not break token match
            (3, "b a a b a a"),  # two non-adjacent matches
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_matches"] for r in text.phrase_search(df, "a a").collect()}
    assert got == {1: 2, 3: 2}
    got2 = {r["doc_id"]: r["n_matches"] for r in text.phrase_search(df, "x y").collect()}
    assert got2 == {2: 1}


def test_word_counts(spark, docs):
    got = {r["token"]: r["tf"] for r in text.word_counts(docs).collect()}
    assert got["the"] == 6 and got["fox"] == 3 and got["uno"] == 1


def test_fingerprint_exact_dups(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1
    kept = dedup.dedup_exact(docs)
    assert kept.count() == len(DOCS) - 1
    assert kept.where(F.col("doc_id") == 4).count() == 0


def test_minhash_identical_docs_same_signature(spark, docs):
    sig = {r["doc_id"]: tuple(r)[1:] for r in dedup.minhash_signature(docs).collect()}
    assert sig[1] == sig[4]  # identical text -> identical signature
    assert sig[1] != sig[3]
    # python oracle for one hash slot
    shingles = set()
    toks = DOCS[0][1].split()
    for i in range(len(toks) - 2):
        shingles.add(" ".join(toks[i : i + 3]))
    want = min(hashlib.md5(f"0|{s}".encode()).hexdigest() for s in shingles)
    assert sig[1][0] == want


def test_lsh_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (1, 4) in pairs  # exact dup always collides
    j = dedup.jaccard_pairs(docs, spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long"))
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in j.collect()}
    assert got[(1, 2)] > 0.5  # one-token difference
    assert (1, 3) not in got or got[(1, 3)] == 0.0  # no common shingles -> no row


def test_simhash_similarity_ordering(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[1] == sh[4]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])  # near-dup closer than unrelated


def test_quality_and_langid(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat is in the hat"),
            (2, "el perro es de la casa"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r for r in text.quality_metrics(docs).collect()}
    assert q[1]["n_tokens"] == 6
    assert q[1]["stopword_ratio"] == pytest.approx(4 / 6)
    lid = {r["doc_id"]: r["pred_lang"] for r in text.language_id(docs).collect()}
    assert lid[1] == "en" and lid[2] == "es" and lid[3] == "und"


def test_sliding_window_topic(spark):
    doc = [(1, "x x fire x fire fire x x x x fire x")]
    df = spark.createDataFrame(doc, "doc_id long, text string")
    out = text.sliding_window_topic(df, ["fire"], window_size=4, threshold=2)
    got = {(r["window_start"], r["hits"]) for r in out.collect()}
    # brute force
    toks = doc[0][1].split()
    want = set()
    for i in range(len(toks)):
        hits = sum(1 for t in toks[i : i + 4] if t == "fire")
        if hits >= 2:
            want.add((i, hits))
    assert got == want


def test_embedding_near_dup_exact_vs_numpy(spark):
    import numpy as np

    from esper_tv_spark.operators.dedup import embedding_near_dup_pairs

    rs = np.random.RandomState(7)
    base = rs.randn(10, 8)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v.tolist()))
        # a near-duplicate: small perturbation of the same vector
        rows.append((2 * i + 1, (v + 0.05 * rs.randn(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    }
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = np.asarray(rows[i][1]), np.asarray(rows[j][1])
            c = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
            if c >= 0.9:
                want.add((rows[i][0], rows[j][0]))
    assert got == want
    assert len(want) >= 10  # every perturbed twin found


def test_embedding_near_dup_lsh_blocked_subset(spark):
    import numpy as np

    from esper_tv_spark.operators.dedup import embedding_near_dup_pairs

    rs = np.random.RandomState(11)
    base = rs.randn(15, 8)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v.tolist()))
        rows.append((2 * i + 1, (v + 0.02 * rs.randn(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9, n_planes=4, dim=8).collect()
    }
    # blocking never invents pairs, and near-identical twins mostly share
    # all 4 hyperplane signs -> recall should be high on this data
    assert blocked <= exact
    assert len(blocked) >= 0.5 * len(exact)


@pytest.mark.slow
def test_embedding_near_dup_banded_recall(spark):
    """Multi-band SRP (the q51 scale path): a pair colliding in ANY band is
    a candidate, so recall rises geometrically with bands while each band
    stays an equi-join. Asserts bands strictly beat one band on a
    moderate-similarity corpus, with no invented pairs or duplicates."""
    import numpy as np

    from esper_tv_spark.operators.dedup import embedding_near_dup_pairs

    rs = np.random.RandomState(23)
    base = rs.randn(25, 8)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v.tolist()))
        # moderate perturbation: cosine ~0.7-0.95, hard for a single band
        rows.append((2 * i + 1, (v + 0.35 * rs.randn(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.6).collect()
    }
    one = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.6, n_planes=4, n_bands=1, dim=8).collect()
    }
    banded_rows = embedding_near_dup_pairs(
        df, threshold=0.6, n_planes=4, n_bands=12, dim=8
    ).collect()
    banded = {(r["id_a"], r["id_b"]) for r in banded_rows}
    assert len(banded_rows) == len(banded)  # candidate dedup: one score per pair
    assert one <= exact and banded <= exact
    assert len(banded) > len(one)
    assert len(banded) >= 0.85 * len(exact)


def test_bpe_tokens_shape(spark):
    df = spark.createDataFrame([(1, "Hello world, it's 42 tests!")], "doc_id long, text string")
    toks = text.bpe_tokens(df).collect()[0]["bpe_tokens"]
    assert toks == ["Hello", " world", ",", " it", "'s", " 42", " tests", "!"]


def test_winnow_fingerprints_edit_stability(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    edited = base.replace("lazy", "hazy", 1)  # one small edit
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, "completely different content here " * 6)],
        "doc_id long, text string",
    )
    fps = text.winnow_fingerprints(df, k=8, w=16)
    by_doc = {
        r["doc_id"]: r["n"] for r in fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_doc) == {1, 2, 3}
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.winnow_candidate_pairs(df, k=8, w=16, min_shared=3).collect()
    }
    # the edited twin shares most fingerprints with the original;
    # the unrelated doc pairs with neither
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_lsh_bucket_cap(spark):
    # 6 identical boilerplate docs -> one hot bucket per band; 2 near-dup
    # docs that differ from the boilerplate
    boiler = [(i, "the same boilerplate text repeated for every page footer") for i in range(6)]
    pair = [
        (10, "an actual interesting document about spark intervals"),
        (11, "an actual interesting document about spark intervals too"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(df).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(df, max_bucket_size=4).collect()
    }
    assert (10, 11) in uncapped and (10, 11) in capped
    assert all(a >= 10 for a, _ in capped)  # boilerplate pairs dropped
    over = dedup.oversized_lsh_buckets(df, max_bucket_size=4).collect()
    assert len(over) >= 1 and all(r["n_docs"] == 6 for r in over)


def test_bm25_matches_closed_form(spark):
    import math

    from esper_tv_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["apple"]).collect()}
    k1, b, avgdl, n = 1.2, 0.75, 2.0, 3
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert set(got) == {1, 3}  # d2 has no query term
    assert abs(got[1] - score(2, 3)) < 1e-12
    assert abs(got[3] - score(1, 1)) < 1e-12
    # length normalization: the short exact-match d3 outranks d1's tf=2
    assert got[3] > got[1]


def test_bm25_multi_term_additivity(spark):
    from esper_tv_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x"), (3, "y"), (4, "z")], "doc_id long, text string"
    )
    both = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["x", "y"]).collect()}
    just_x = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["x"]).collect()}
    just_y = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["y"]).collect()}
    assert abs(both[1] - (just_x[1] + just_y[1])) < 1e-12
    assert 4 not in both


def test_semantic_dedup_blocks_and_drops(spark):
    """SemDeDup: a near-identical pair in the same cluster drops the
    larger id; a far vector survives; output covers every input row."""
    import numpy as np

    from esper_tv_spark.operators.dedup import recommended_clusters, semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # 100 = near-copy of vector 2 (tiny perturbation -> cosine ~1)
    rows.append((100, [float(x) for x in base[2] * 1.01 + 1e-4]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, k=3, threshold=0.95).orderBy("vec_id").collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == 7  # every input row annotated
    assert by_id[100]["is_dup"] is True
    assert by_id[2]["is_dup"] is False  # keeper = smaller id
    assert by_id[100]["cluster"] == by_id[2]["cluster"]
    assert sum(r["is_dup"] for r in out) == 1
    # k-sizing helper balances assignment (n*k) vs pair join (n^2/k)
    assert recommended_clusters(64_000) == 253  # ~sqrt(n)
    assert recommended_clusters(10) == 3
    assert recommended_clusters(2) == 2


def test_semantic_dedup_sparse_ids(spark):
    """Rank-based Lloyd init: ids far above k must still yield k centroids
    (the `id < k` init silently produced zero centroids — and an empty
    semantic_dedup — on any table whose ids all exceed k)."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup
    from esper_tv_spark.operators.similarity import lloyd_assign

    rng = np.random.default_rng(11)
    ids = [1_000_000 + 7 * i for i in range(12)]  # sparse, offset, none < k
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in ids]
    # near-copy of the first vector under a much larger id
    rows.append((9_999_999, [v * 1.01 + 1e-4 for v in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assign = lloyd_assign(df, k=3).collect()
    assert len(assign) == 13  # every vector assigned, none dropped
    # centroid labels are the 3 smallest ids present, not 0..2
    assert {r["cluster"] for r in assign} <= set(ids[:3])
    out = {r["vec_id"]: r for r in semantic_dedup(df, k=3, threshold=0.95).collect()}
    assert len(out) == 13
    assert out[9_999_999]["is_dup"] is True
    assert out[ids[0]]["is_dup"] is False


def test_semantic_dedup_pair_join_is_cluster_equijoin(spark):
    """Scale shape: the within-cluster pair scan must plan as an EQUI-join
    on the cluster key (one shuffle), never a cartesian."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = semantic_dedup(df, k=4, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    # the ONLY nested-loop allowed is the k-row centroid broadcast inside
    # lloyd_assign; the n x n pair scan must hash/merge-join on cluster
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # one per lloyd_assign consumer
    assert "hashjoin" in plan.lower() or "sortmergejoin" in plan.lower()


def test_semantic_dedup_triangle_grid_equivalence(spark):
    """The triangle-grid pair decomposition (hot-cluster parallelization)
    must produce byte-identical results to the ungridded join: force
    multi-block clusters with a tiny block_rows and compare."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(41)
    # k=2 -> two big clusters (~30 rows each), block_rows=4 -> ~8 blocks
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    rows += [(1000 + i, [v * 1.02 + 1e-3 for v in rows[i][1]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    big = sorted(
        tuple(r) for r in semantic_dedup(df, k=2, threshold=0.95, block_rows=10**9).collect()
    )
    grid = sorted(
        tuple(r) for r in semantic_dedup(df, k=2, threshold=0.95, block_rows=4).collect()
    )
    assert big == grid
    assert sum(r[2] for r in grid) >= 10  # the planted near-copies drop


def test_recommended_clusters_cost_ceiling():
    """With a FLOPs budget the cluster count is pinned so the assignment
    spends at most half the budget (production SemDeDup pins k far below
    sqrt-balance); without one the sqrt-balance formula is unchanged (the
    oracle-replayable contract path)."""
    import pytest

    from esper_tv_spark.operators.dedup import recommended_clusters

    n, dim = 1_000_000, 256
    assert recommended_clusters(n) == 1000  # sqrt balance
    # budget: assignment 2*dim*n*k <= max_flops/2 -> k = budget/(4*dim*n)
    budget = 4.0 * dim * n * 100  # admits k=100
    assert recommended_clusters(n, dim=dim, max_flops=budget) == 100
    # a huge budget never raises k above the sqrt balance
    assert recommended_clusters(n, dim=dim, max_flops=1e30) == 1000
    # a starvation budget floors at 2, never 0
    assert recommended_clusters(n, dim=dim, max_flops=1.0) == 2
    with pytest.raises(ValueError):
        recommended_clusters(n, max_flops=budget)


def test_semantic_dedup_fast_assign_default_by_path(spark):
    """fast_assign resolves by path: frozen centroids (production scoring)
    default to the BLAS assigner, centroids=None (the oracle-gated
    contract) stays on the expression fold — and both agree on the test
    corpus regardless."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(31)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    rows.append((777, [v * 1.02 + 1e-4 for v in rows[3][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(5)], "cluster long, cvec array<float>"
    )
    frozen_default = sorted(
        tuple(r) for r in semantic_dedup(df, threshold=0.95, centroids=cents).collect()
    )
    frozen_exact = sorted(
        tuple(r)
        for r in semantic_dedup(
            df, threshold=0.95, centroids=cents, fast_assign=False, fast_pairs=False
        ).collect()
    )
    assert frozen_default == frozen_exact


def test_semantic_dedup_fast_pairs_matches_exact(spark):
    """The GEMM cell-scoring path (fast_pairs) returns the same verdicts
    as the expression-fold pair join, including across grid-cell splits
    (block_rows smaller than the cluster forces multi-cell clusters)."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(53)
    rows = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(80)]
    for j, src in enumerate((2, 17, 44)):
        rows.append((300 + j, [v * 1.01 + 1e-4 for v in rows[src][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for br in (1024, 8):
        exact = sorted(
            tuple(r)
            for r in semantic_dedup(
                df, k=5, threshold=0.95, block_rows=br, fast_pairs=False
            ).collect()
        )
        fast = sorted(
            tuple(r)
            for r in semantic_dedup(
                df, k=5, threshold=0.95, block_rows=br, fast_pairs=True
            ).collect()
        )
        assert exact == fast and any(r[2] for r in exact), br


def test_minhash_cw_matches_python_reference(spark):
    """Carter-Wegman signature: Spark's DECIMAL combine == a plain Python
    (h1 + i*h2) mod 2^64 replay, and the LSH pipeline accepts cw sigs."""
    import hashlib

    from esper_tv_spark.operators import dedup

    texts = [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "pack my box with five dozen liquor jugs ok")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sig = dedup.minhash_signature(docs, n_hashes=8, shingle_n=3, cw=True).collect()
    got = {r["doc_id"]: [int(r[f"mh_{i}"]) for i in range(8)] for r in sig}
    for d, t in texts:
        toks = [x for x in t.split(" ") if x]
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        for i in range(8):
            want = min(
                (int(hashlib.md5(s.encode()).hexdigest()[:16], 16)
                 + i * int(hashlib.md5(s.encode()).hexdigest()[16:], 16)) % 2**64
                for s in sh)
            assert got[d][i] == want
    # identical docs still collide through the cw pipeline
    dup = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "alpha beta gamma delta epsilon zeta"),
         (12, "totally different words here entirely now")],
        "doc_id long, text string")
    pairs = dedup.lsh_candidate_pairs(dup, n_hashes=8, shingle_n=3, n_bands=4, cw=True)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(10, 11)]


def test_semantic_dedup_multiprobe_recovers_boundary_pairs(spark):
    """cluster_probes=2: near-dup pairs whose members argmin to DIFFERENT
    clusters (boundary straddlers) are invisible to single-probe blocking
    but caught by multi-probe; output stays one row per vector with the
    primary cluster, and single-probe results are unchanged semantics."""
    import numpy as np

    from esper_tv_spark.operators import dedup

    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    # plants: id 200+i is a tiny perturbation of id i — some will straddle
    # a cluster boundary under the frozen rank-based centroids
    for i in range(30):
        rows.append((200 + i, [v * 1.02 + 0.015 for v in rows[i][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(12)], "cluster long, cvec array<double>"
    )
    plant_ids = set(range(200, 230))

    def run(p):
        out = dedup.semantic_dedup(
            df, threshold=0.95, centroids=cents, cluster_probes=p
        ).collect()
        assert len(out) == len(rows)
        return {r["vec_id"] for r in out if r["is_dup"]}, {
            r["vec_id"]: r["cluster"] for r in out
        }

    d1, c1 = run(1)
    d2, c2 = run(2)
    # multi-probe can only ADD catches, and must find strictly more here
    assert d1 <= d2
    assert len(d2 & plant_ids) > len(d1 & plant_ids), (len(d1), len(d2))
    # primary cluster is the p=1 assignment for every vector
    assert c1 == c2

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.semantic_dedup(df, threshold=0.95, cluster_probes=2, fast_assign=False)
    with _pytest.raises(ValueError):
        dedup.semantic_dedup(
            df, threshold=0.95, centroids=cents, cluster_probes=2, fast_pairs=False
        )


def test_lsh_plan_sizing():
    """The S-curve banding planner: divisor-exact plans, threshold
    monotonicity, sensible error mass, validation."""
    import pytest

    from esper_tv_spark.operators.dedup import lsh_plan

    plan = lsh_plan(16, 0.5)
    assert plan["n_bands"] * plan["rows_per_band"] == 16
    assert 1 < plan["n_bands"] < 16  # interior plan for a mid threshold
    assert plan["fp_area"] + plan["fn_area"] < 0.25  # far better than chance

    # crossover is monotone in the threshold and tracks the extremes
    lo, mid, hi = lsh_plan(16, 0.05), lsh_plan(16, 0.4), lsh_plan(16, 0.95)
    assert lo["crossover"] <= mid["crossover"] <= hi["crossover"]
    assert lo["n_bands"] > hi["n_bands"]
    # hand-checked reference points (16 = b*r grid): t=0.3 -> (8, 2),
    # t=0.5 -> (4, 4) with crossover (1/4)^(1/4)
    assert (lsh_plan(16, 0.3)["n_bands"], lsh_plan(16, 0.3)["rows_per_band"]) == (8, 2)
    assert lsh_plan(16, 0.5)["crossover"] == round(0.25 ** 0.25, 4)

    with pytest.raises(ValueError):
        lsh_plan(0, 0.5)
    with pytest.raises(ValueError):
        lsh_plan(16, 1.0)


def test_lsh_near_dup_cache_mode_parity(spark):
    """cache_shingles is a pure execution-strategy knob (r10: default None
    resolves from input bytes — tiny corpora skip the cache barrier, the
    r4 sf100 corpus keeps the cached plan): all three modes must return
    the identical verified pair set."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "completely different text with no shared shingles here"),
            (5, "another unrelated document body entirely its own words"),
        ],
        "doc_id long, text string",
    )
    outs = []
    for mode in (None, True, False):
        rows = dedup.lsh_near_dup(docs, cache_shingles=mode).collect()
        outs.append(sorted((r.id_a, r.id_b, r.jaccard) for r in rows))
        spark.catalog.clearCache()
    assert outs[0] == outs[1] == outs[2]
    # the exact-dup pair must be found with jaccard 1.0
    assert any(a == 1 and b == 3 and j == 1.0 for a, b, j in outs[0])

