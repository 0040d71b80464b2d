"""Pre-filtered ANN (similarity._apply_id_filter) and IVF range search
(similarity.ivf_range_search).

Pre-filter semantics oracle used throughout: probe the SAME index
unfiltered with k_top = everything, then take the first k rows whose id
is in the allowed set.  That external restriction of the full probed
ranking IS the pre-filter answer (rank within the match set, over the
same probed cells), so the in-engine semi-join must reproduce it
bit-for-bit — and it is NOT the post-filter answer (restricting the
top-k), which the mismatch test pins as different.

Reference: the filtered-search mode of production vector stores (faiss
IDSelector); reference repo analogue: identity-restricted embedding knn
(face_embeddings.py:74-96 serving batches are always sliced by person
set before ranking in app queries)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esper_tv_spark.operators import similarity as sim
from esper_tv_spark.plans import physical_plan

SF = "/root/testdata/sf0.001"
N = 500  # corpus rows at sf0.001 — k_top=N returns every probed candidate


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


@pytest.fixture(scope="module")
def qv(emb):
    return [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]


@pytest.fixture(scope="module")
def allow(emb):
    return emb.where(F.col("label") == 7).select("vec_id")


@pytest.fixture(scope="module")
def allow_ids(allow):
    return {int(r[0]) for r in allow.collect()}


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _prefilter_expected(full_rows, allowed, k):
    return [r for r in full_rows if int(r[0]) in allowed][:k]


@pytest.fixture(scope="module")
def ivf_idx(spark, emb, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("fivf") / "idx")
    sim.ivf_build_index(emb, p, n_cells=16)
    return p


# ------------------------------------------------------------ pre-filter


def test_filtered_probe_matches_external_prefilter(spark, emb, qv, ivf_idx, allow, allow_ids):
    full = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, N, n_probe=3))
    got = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=allow))
    assert got == _prefilter_expected(full, allow_ids, 10)
    assert all(int(r[0]) in allow_ids for r in got)


def test_prefilter_is_not_postfilter(spark, emb, qv, ivf_idx, allow, allow_ids):
    """The distinction the operator exists for: restricting the
    UNFILTERED top-10 (post-filter) loses the matches ranked below 10,
    so at ~10% selectivity it returns a strict prefix of the pre-filter
    answer — if the two coincided the test data couldn't tell a semi-
    join from a post-hoc where()."""
    top10 = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3))
    post = [r for r in top10 if int(r[0]) in allow_ids]
    pre = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=allow))
    assert len(post) < len(pre)
    assert pre[: len(post)] == post


def test_filter_all_ids_is_identity(spark, emb, qv, ivf_idx):
    """filter_ids covering the corpus must not change a single bit —
    the semi-join is a restriction, never a reorder."""
    base = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3))
    all_ids = _rows(
        sim.ivf_probe_index(
            spark, ivf_idx, qv, 10, n_probe=3,
            filter_ids=spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select("vec_id"),
        )
    )
    assert all_ids == base


def test_filter_dedups_fanout_ids(spark, emb, qv, ivf_idx, allow):
    """A fan-out upstream join duplicating allowed ids must not multiply
    posting rows (the helper dedups before the semi-join)."""
    doubled = allow.union(allow)
    got = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=doubled))
    base = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=allow))
    assert got == base


def test_filtered_probe_pq_and_sq(spark, emb, qv, allow, allow_ids, tmp_path):
    """The same pre-filter contract on the coded families: external
    restriction of the full ADC/SQ ranking == in-engine filter."""
    pq = str(tmp_path / "fpq")
    sim.ivfpq_build_index(emb, pq, n_cells=16, m=8, k=16, dim=64)
    full = _rows(sim.ivfpq_probe_index(spark, pq, qv, N, n_probe=3))
    got = _rows(sim.ivfpq_probe_index(spark, pq, qv, 10, n_probe=3, filter_ids=allow))
    assert got == _prefilter_expected(full, allow_ids, 10)

    sq = str(tmp_path / "fsq")
    sim.ivfsq_build_index(emb, sq, n_cells=16, dim=64)
    full = _rows(sim.ivfsq_probe_index(spark, sq, qv, N, n_probe=3))
    got = _rows(sim.ivfsq_probe_index(spark, sq, qv, 10, n_probe=3, filter_ids=allow))
    assert got == _prefilter_expected(full, allow_ids, 10)


def test_filtered_batch_join_parity_with_single_probes(spark, emb, ivf_idx, allow):
    """Per-query rows of the filtered batch join == filtered single
    probes — the q96 bit-parity contract survives the filter."""
    qids = [0, 7, 13]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    joined = sim.ivf_knn_join_index(spark, ivf_idx, queries, 10, n_probe=3, filter_ids=allow)
    got = {
        q: [(int(r["vec_id"]), r["cosine_sim"]) for r in rs]
        for q, rs in _group_by_qid(joined).items()
    }
    for q in qids:
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == q).select("embedding").first()[0]
        ]
        single = [
            (int(r["vec_id"]), r["cosine_sim"])
            for r in sim.ivf_probe_index(
                spark, ivf_idx, qvec, 10, n_probe=3, filter_ids=allow
            ).collect()
        ]
        assert got[q] == single


def _group_by_qid(df):
    out = {}
    for r in df.orderBy("qid", F.col("cosine_sim").desc(), "vec_id").collect():
        out.setdefault(int(r["qid"]), []).append(r)
    return out


def test_filter_composes_with_tombstones(spark, emb, qv, allow, allow_ids, tmp_path):
    """Tombstoned ids stay hidden inside the allowed set: the tombstone
    filter and the semi-join stack on one scan."""
    from esper_tv_spark.streaming.ann import ann_delete

    p = str(tmp_path / "ftomb")
    sim.ivf_build_index(emb, p, n_cells=16)
    pre = _rows(sim.ivf_probe_index(spark, p, qv, 10, n_probe=3, filter_ids=allow))
    victim = int(pre[0][0])
    ann_delete(spark, p, [victim])
    post = _rows(sim.ivf_probe_index(spark, p, qv, 10, n_probe=3, filter_ids=allow))
    assert all(int(r[0]) != victim for r in post)
    assert post[: len(pre) - 1] == [r for r in pre if int(r[0]) != victim][: len(post)]


def test_unfiltered_plan_shape_unchanged(spark, emb, qv, ivf_idx):
    """filter_ids=None keeps the zero-join probe plan (the contract
    queries' shape must not grow a join from the new parameter)."""
    plan = physical_plan(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3))
    assert "Join" not in plan


# ---------------------------------------------------------- range search


def test_range_search_matches_thresholded_full_ranking(spark, emb, qv, ivf_idx):
    full = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, N, n_probe=3))
    got = _rows(sim.ivf_range_search(spark, ivf_idx, qv, 0.15, n_probe=3))
    assert got == [r for r in full if r[1] >= 0.15]
    assert len(got) > 0


def test_range_search_threshold_monotone(spark, emb, qv, ivf_idx):
    lo = _rows(sim.ivf_range_search(spark, ivf_idx, qv, 0.1, n_probe=3))
    hi = _rows(sim.ivf_range_search(spark, ivf_idx, qv, 0.3, n_probe=3))
    assert set(hi).issubset(set(lo))
    assert len(hi) < len(lo)
    assert hi == [r for r in lo if r[1] >= 0.3]


def test_range_search_with_filter_and_tombstones(spark, emb, qv, allow, allow_ids, tmp_path):
    from esper_tv_spark.streaming.ann import ann_delete

    p = str(tmp_path / "rtomb")
    sim.ivf_build_index(emb, p, n_cells=16)
    base = _rows(sim.ivf_range_search(spark, p, qv, 0.1, n_probe=3, filter_ids=allow))
    assert base == [r for r in _rows(sim.ivf_range_search(spark, p, qv, 0.1, n_probe=3)) if int(r[0]) in allow_ids]
    victim = int(base[0][0])
    ann_delete(spark, p, [victim])
    got = _rows(sim.ivf_range_search(spark, p, qv, 0.1, n_probe=3, filter_ids=allow))
    assert got == [r for r in base if int(r[0]) != victim]


def test_range_search_no_topk_window(spark, emb, qv, ivf_idx):
    """The range plan must not pay a window/limit it doesn't need: no
    Join, no Window — scan, project, filter, sort."""
    plan = physical_plan(sim.ivf_range_search(spark, ivf_idx, qv, 0.15, n_probe=3))
    assert "Join" not in plan
    assert "Window" not in plan


@pytest.mark.slow
def test_filtered_batch_join_pq_sq_parity(spark, emb, allow, tmp_path):
    """filter_ids on the coded batch joins == filtered single probes —
    the q96-style bit-parity contract on all three serving joins."""
    qids = [0, 7]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id").isin(qids)).collect()
    }

    pq = str(tmp_path / "bpq")
    sim.ivfpq_build_index(emb, pq, n_cells=16, m=8, k=16, dim=64)
    joined = sim.ivfpq_knn_join_index(spark, pq, queries, 5, n_probe=3, filter_ids=allow)
    by_q = {}
    for r in joined.orderBy("qid", F.col("adist").asc(), "vec_id").collect():
        by_q.setdefault(int(r["qid"]), []).append((int(r["vec_id"]), r["adist"]))
    for q in qids:
        single = [
            (int(r["vec_id"]), r["adist"])
            for r in sim.ivfpq_probe_index(
                spark, pq, qvecs[q], 5, n_probe=3, filter_ids=allow
            ).collect()
        ]
        assert by_q[q] == single

    sq = str(tmp_path / "bsq")
    sim.ivfsq_build_index(emb, sq, n_cells=16, dim=64)
    joined = sim.ivfsq_knn_join_index(spark, sq, queries, 5, n_probe=3, filter_ids=allow)
    by_q = {}
    for r in joined.orderBy("qid", F.col("adist").asc(), "vec_id").collect():
        by_q.setdefault(int(r["qid"]), []).append((int(r["vec_id"]), r["adist"]))
    for q in qids:
        single = [
            (int(r["vec_id"]), r["adist"])
            for r in sim.ivfsq_probe_index(
                spark, sq, qvecs[q], 5, n_probe=3, filter_ids=allow
            ).collect()
        ]
        assert by_q[q] == single


def test_selective_filter_broadcasts(spark, emb, qv, ivf_idx, allow):
    """A selective allowed-id set must ride as a broadcast left-semi
    join (the helper leaves strategy to Catalyst on purpose — this pins
    that the selective case actually lands on the cheap plan)."""
    plan = physical_plan(
        sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=allow)
    )
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


# ------------------------------------------------- persisted allow-sets


def test_filter_set_parity_with_inline(spark, emb, qv, ivf_idx, allow):
    """A persisted allow-set (build_filter_set) must be bit-identical to
    the inline DataFrame filter on every probe family — the artifact is
    an execution optimization (build-once distinct), never a semantics
    change."""
    fdir = sim.build_filter_set(allow, ivf_idx, key="label = 7")
    assert fdir == sim.load_filter_set(spark, ivf_idx, "label = 7")
    inline = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=allow))
    stored = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=fdir))
    assert stored == inline and len(stored) > 0


def test_filter_set_no_distinct_in_plan(spark, emb, qv, ivf_idx, allow):
    """The point of persisting: the per-probe corpus-wide distinct
    disappears.  The inline path carries an aggregate on the allow side;
    the stored path's filter subtree is a plain pruned parquet read."""
    fdir = sim.build_filter_set(allow, ivf_idx, key="label = 7")
    inline_plan = physical_plan(
        sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=allow)
    )
    stored_plan = physical_plan(
        sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=fdir)
    )
    assert "HashAggregate" in inline_plan  # the distinct it used to pay
    assert "HashAggregate" not in stored_plan
    assert "BroadcastHashJoin" in stored_plan and "LeftSemi" in stored_plan


def test_filter_set_fails_closed(spark, emb, qv, ivf_idx, tmp_path):
    """Unknown keys and incomplete artifacts raise — probing a partial
    allow-set would silently drop matches."""
    with pytest.raises(ValueError, match="filter set"):
        sim.load_filter_set(spark, ivf_idx, "never built")
    fdir = sim.build_filter_set(
        emb.where(F.col("label") == 3).select("vec_id"), ivf_idx, key="label = 3"
    )
    os.remove(os.path.join(fdir, "meta.json"))  # simulate a crashed build
    with pytest.raises(ValueError, match="incomplete"):
        sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=fdir).collect()


def test_filter_set_composes_with_batch_join_and_dsl(spark, emb, ivf_idx, allow):
    """The stored set threads through the batch join and the DSL
    'filter_set' key; bad keys are DSLError, not raw exceptions."""
    import pytest as _pytest

    from esper_tv_spark.frontend.dsl import DSLError, run_query

    fdir = sim.build_filter_set(allow, ivf_idx, key="label = 7")
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    inline = _rows(
        sim.ivf_knn_join_index(spark, ivf_idx, queries, 5, n_probe=3, filter_ids=allow)
    )
    stored = _rows(
        sim.ivf_knn_join_index(spark, ivf_idx, queries, 5, n_probe=3, filter_ids=fdir)
    )
    assert stored == inline and len(stored) > 0

    cat = {"faces": ivf_idx}
    spec = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces", "query_id": 0, "k": 10,
            "filter_set": "label = 7",
        },
    }
    via_dsl = _rows(run_query({"embeddings": emb}, spec, index_catalog=cat))
    direct = _rows(
        sim.ivf_probe_index(spark, ivf_idx, [
            float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
        ], 10, n_probe=3, filter_ids=fdir)
    )
    assert via_dsl == direct and len(via_dsl) > 0
    for bad in (
        {"op": "ann_probe", "index": "faces", "query_id": 0, "k": 10,
         "filter_set": "never built"},
        {"op": "ann_probe", "index": "faces", "query_id": 0, "k": 10,
         "filter_set": 3},
        {"op": "ann_probe", "index": "faces", "query_id": 0, "k": 10,
         "filter_set": "label = 7",
         "filter": {"col": "label", "op": "=", "value": 7}},
    ):
        with _pytest.raises(DSLError):
            run_query({"embeddings": emb}, {"table": "embeddings", "similarity": bad},
                      index_catalog=cat)


def test_filter_set_deny_mode_parity(spark, emb, qv, ivf_idx, allow, allow_ids):
    """A 'deny' artifact storing the predicate's complement is exactly
    equivalent to the 'allow' artifact (anti-join vs semi-join over the
    same posting rows) — the mode exists so serving stores whichever
    side is smaller."""
    import pytest as _pytest

    fdir_allow = sim.build_filter_set(allow, ivf_idx, key="label = 7")
    deny_ids = emb.where(F.col("label") != 7).select("vec_id")
    fdir_deny = sim.build_filter_set(
        deny_ids, ivf_idx, key="label = 7 (deny complement)", mode="deny"
    )
    got_allow = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=fdir_allow))
    got_deny = _rows(sim.ivf_probe_index(spark, ivf_idx, qv, 10, n_probe=3, filter_ids=fdir_deny))
    assert got_deny == got_allow and len(got_deny) > 0
    assert all(int(r[0]) in allow_ids for r in got_deny)
    with _pytest.raises(ValueError, match="allow|deny"):
        sim.build_filter_set(allow, ivf_idx, key="x", mode="except")
