"""Safe DSL front-end + result shaping + caption query grammar."""

import pytest
from pyspark.sql import functions as F

from esper_tv_spark.frontend import run_query, to_result_json
from esper_tv_spark.frontend.result_json import bbox_result, frame_result, track_result
from esper_tv_spark.frontend.dsl import DSLError
from esper_tv_spark.operators.text import query_search

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog(spark):
    from esper_tv_spark.sources import load_tables

    return load_tables(spark, SF)


def test_dsl_join_agg_matches_handwritten(spark, catalog):
    spec = {
        "table": "lineitem",
        "join": [
            {"table": "orders", "on": [["l_orderkey", "o_orderkey"]], "broadcast": True}
        ],
        "derive": {
            "revenue": {
                "op": "*",
                "args": ["l_extendedprice", {"op": "-", "args": [{"lit": 1.0}, "l_discount"]}],
            }
        },
        "where": [["l_quantity", ">", {"lit": 10.0}]],
        "group_by": ["o_orderpriority"],
        "agg": {"n": {"fn": "count"}, "rev": {"fn": "sum", "col": "revenue"}},
        "order_by": [["rev", "desc"]],
        "limit": 3,
    }
    got = [tuple(r) for r in run_query(catalog, spec).collect()]
    li, o = catalog["lineitem"], catalog["orders"]
    want_df = (
        li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .withColumn("revenue", F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .where(F.col("l_quantity") > 10.0)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("revenue").alias("rev"))
        .orderBy(F.col("rev").desc())
        .limit(3)
    )
    assert got == [tuple(r) for r in want_df.collect()]


def test_dsl_rejects_non_whitelisted(catalog):
    with pytest.raises(DSLError):
        run_query(catalog, {"table": "lineitem", "derive": {"x": {"fn": "exec", "args": []}}})
    with pytest.raises(DSLError):
        run_query(catalog, {"table": "__import__('os')"})
    with pytest.raises(DSLError):
        run_query(catalog, {"table": "lineitem", "join": [{"table": "orders", "on": [["a", "b"]], "how": "cross_product"}]})
    with pytest.raises(DSLError):
        run_query(catalog, {"table": "lineitem", "derive": {"x": {"lit": object()}}})


def test_dsl_select_and_functions(catalog):
    spec = {
        "table": "part",
        "derive": {"color": {"fn": "split_part", "args": ["p_name", {"lit": 0}]}},
        "select": ["p_partkey", {"expr": {"fn": "upper", "args": ["color"]}, "as": "color_uc"}],
        "limit": 5,
    }
    rows = run_query(catalog, spec).collect()
    assert len(rows) == 5 and rows[0]["color_uc"].isupper()


def test_result_json_shapes(catalog):
    df = catalog["orders"].select("o_orderkey", "o_orderstatus")
    flat = to_result_json(df, limit=7)
    assert flat["count"] == 7 and flat["result"][0]["type"] == "flat"
    grouped = to_result_json(df, group_cols=["o_orderstatus"], limit=50)
    assert all(g["type"] == "contains" for g in grouped["result"])
    assert sum(len(g["elements"]) for g in grouped["result"]) == 50


def test_query_search_grammar(spark):
    docs = spark.createDataFrame(
        [
            (1, "sean spicer will resign today"),
            (2, "sean spicer said nothing"),
            (3, "others may quit tomorrow sean spicer stays"),
            (4, "completely unrelated text"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in query_search(docs, "SEAN SPICER & [RESIGN | QUIT]").collect()}
    assert got == {1, 3}
    assert {r["doc_id"] for r in query_search(docs, "sean spicer").collect()} == {1, 2, 3}
    with pytest.raises(ValueError):
        query_search(docs, "  &  ")


def test_dsl_window_argmax(spark):
    from esper_tv_spark.frontend.dsl import run_query

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "b", 20.0), (4, "b", 5.0)],
        "id long, grp string, score double",
    )
    spec = {
        "table": "t",
        "window": {
            "rn": {
                "fn": "row_number",
                "partition_by": ["grp"],
                "order_by": [["score", "desc"], ["id", "asc"]],
            }
        },
        "qualify": [["rn", "==", {"lit": 1}]],
        "select": ["id", "grp", "score"],
        "order_by": ["grp"],
    }
    got = [tuple(r) for r in run_query({"t": df}, spec).collect()]
    assert got == [(2, "a", 30.0), (3, "b", 20.0)]


def test_dsl_window_rejects_unknown_fn(spark):
    import pytest as _pytest

    from esper_tv_spark.frontend.dsl import DSLError, run_query

    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(DSLError):
        run_query({"t": df}, {"table": "t", "window": {"x": {"fn": "exec"}}})


def test_dsl_count_col_and_missing_col_validation(spark):
    import pytest as _pytest

    from esper_tv_spark.frontend.dsl import DSLError, run_query

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "id long, v string"
    )
    # count with a col = non-null count; without = count(*)
    got = run_query(
        {"t": df},
        {"table": "t", "agg": {"n_all": {"fn": "count"}, "n_v": {"fn": "count", "col": "v"}}},
    ).collect()[0]
    assert (got["n_all"], got["n_v"]) == (3, 2)
    # lag without a col is a DSLError, not an opaque py4j failure
    with _pytest.raises(DSLError):
        run_query(
            {"t": df},
            {"table": "t", "window": {"prev": {"fn": "lag", "order_by": ["id"]}}},
        )
    # non-count agg without a col is a DSLError too
    with _pytest.raises(DSLError):
        run_query({"t": df}, {"table": "t", "agg": {"s": {"fn": "sum"}}})


def test_frame_result_shape(spark):
    df = spark.createDataFrame(
        [(1, 4), (1, 0), (1, 2), (2, 0), (1, 3)], "video_id long, frame_no long"
    )
    out = frame_result(df, stride=2, limit=3)
    assert out["type"] == "Frame"
    els = [g["elements"][0] for g in out["result"]]
    # stride keeps frames 0,2,4; ordered by (video, frame); limit 3
    assert [(e["video"], e["min_frame"]) for e in els] == [(1, 0), (1, 2), (1, 4)]
    assert all(e["objects"] == [] for e in els)


def test_bbox_result_frame_major(spark):
    rows = [
        (10, 1, 0, 0.1, 0.1, 0.2, 0.2),
        (11, 1, 0, 0.3, 0.3, 0.4, 0.4),
        (12, 1, 5, 0.5, 0.5, 0.6, 0.6),
    ]
    df = spark.createDataFrame(
        rows, "id long, video_id long, frame_no long, bbox_x1 double, bbox_y1 double, bbox_x2 double, bbox_y2 double"
    )
    out = bbox_result(df)
    assert out["type"] == "Face" and out["count"] == 2
    first = out["result"][0]["elements"][0]
    assert first["min_frame"] == 0 and len(first["objects"]) == 2
    assert [o["id"] for o in first["objects"]] == [10, 11]


def test_track_result_metadata(spark):
    df = spark.createDataFrame(
        [(1, 100, 200, "host"), (1, 50, 80, "guest")],
        "video_id long, start long, end long, role string",
    )
    out = track_result(df, payload_cols=["role"])
    els = [g["elements"][0] for g in out["result"]]
    assert els[0]["min_frame"] == 50 and els[0]["metadata"] == {"role": "guest"}
    assert els[1]["max_frame"] == 200 and els[1]["metadata"] == {"role": "host"}


def test_dsl_interval_verbs(spark):
    """The rekall verbs are reachable from the safe JSON surface: dilate ->
    coalesce -> overlap_measure against a second table, no Python."""
    a = spark.createDataFrame(
        [(1, 0, 10), (1, 12, 20), (1, 100, 110)], "key long, start long, end long"
    )
    b = spark.createDataFrame([(1, 5, 15)], "key long, start long, end long")
    out = run_query(
        {"a": a, "b": b},
        {
            "table": "a",
            "intervals": [
                {"op": "dilate", "keys": ["key"], "amount": 1},
                {"op": "coalesce", "keys": ["key"]},
                {"op": "overlap_measure", "keys": ["key"], "table": "b", "as": "ov"},
            ],
            "select": [
                "key", "start", "end", "ov",
            ],
            "order_by": [["start", "asc"]],
        },
    ).collect()
    # dilate(1) merges [0,10] and [12,20] into [-1,21]; overlap vs [5,15] = 10
    assert [(r["start"], r["end"], r["ov"]) for r in out] == [(-1, 21, 10), (99, 111, 0)]


def test_dsl_interval_verbs_rejected(spark):
    a = spark.createDataFrame([(1, 0, 10)], "key long, start long, end long")
    with pytest.raises(DSLError):
        run_query({"a": a}, {"table": "a", "intervals": [{"op": "explode_rows", "keys": ["key"]}]})
    with pytest.raises(DSLError):
        run_query(
            {"a": a},
            {"table": "a", "intervals": [{"op": "overlap_join", "keys": ["key"], "table": "nope"}]},
        )


def test_dsl_similarity_knn_matches_library(spark, catalog):
    from esper_tv_spark.operators.similarity import cosine_topk

    emb = catalog["embeddings"]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    spec = {"table": "embeddings", "similarity": {"op": "knn", "query": q, "k": 5}}
    got = [tuple(r) for r in run_query(catalog, spec).collect()]
    want = [tuple(r) for r in cosine_topk(emb, q, 5).collect()]
    assert got == want

    # query_id form resolves the vector from the table itself (q31 shape)
    spec_id = {"table": "embeddings", "similarity": {"op": "knn", "query_id": 0, "k": 5}}
    assert [tuple(r) for r in run_query(catalog, spec_id).collect()] == want


def test_dsl_similarity_dist_to_targets(spark, catalog):
    from esper_tv_spark.operators.similarity import dist_to_targets

    emb = catalog["embeddings"]
    rows = emb.orderBy("vec_id").limit(2).select("embedding").collect()
    targets = [[float(x) for x in r[0]] for r in rows]
    spec = {
        "table": "embeddings",
        "similarity": {"op": "dist_to_targets", "targets": targets},
        "order_by": [["dist", "asc"], ["vec_id", "asc"]],
        "limit": 4,
    }
    got = [tuple(r) for r in run_query(catalog, spec).collect()]
    want = [
        tuple(r)
        for r in dist_to_targets(emb, targets)
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(4)
        .collect()
    ]
    assert got == want


def test_dsl_similarity_rejected_specs(catalog):
    bad_specs = [
        {"op": "knn"},  # no k / query
        {"op": "knn", "k": 5},  # no query
        {"op": "knn", "k": -1, "query": [1.0]},
        {"op": "knn", "k": 5, "query": "not-a-vector"},
        {"op": "knn", "k": 5, "query": [1.0, "x"]},
        {"op": "knn", "k": 5, "query": [True, False]},
        {"op": "knn", "k": 5, "query_id": "zero"},
        {"op": "dist_to_targets"},
        {"op": "dist_to_targets", "targets": []},
        {"op": "dist_to_targets", "targets": [["a"]]},
        {"op": "ann_build_index"},  # not whitelisted
        {"op": "knn", "k": 5, "query": [1.0], "id_col": 7},
    ]
    for s in bad_specs:
        with pytest.raises(DSLError):
            run_query(catalog, {"table": "embeddings", "similarity": s})
    # unknown query_id raises (not a silent empty result)
    with pytest.raises(DSLError):
        run_query(
            catalog,
            {"table": "embeddings", "similarity": {"op": "knn", "k": 5, "query_id": -12345}},
        )


# ---------------------------------------------------------------------------
# property-based fuzz: the DSL's whitelist is airtight
# ---------------------------------------------------------------------------

def test_dsl_fuzz_unknown_names_always_dslerror(spark, catalog):
    """Property: any op/fn/agg/window-fn name outside the whitelist raises
    DSLError at COMPILE time (before any Spark action), for arbitrary
    name strings including python-looking payloads."""
    from hypothesis import given, settings, strategies as st

    from esper_tv_spark.frontend import dsl as dsl_mod

    known = set(dsl_mod._FUNCS) | set(dsl_mod._BINOPS) | set(dsl_mod._AGGS) | set(
        dsl_mod._WINDOW_FNS
    )
    names = st.text(min_size=1, max_size=30).filter(lambda s: s not in known)
    evil = st.sampled_from(
        ["__import__", "eval", "exec", "os.system", "subprocess", "open", "__class__"]
    )

    @given(name=st.one_of(names, evil), slot=st.sampled_from(["op", "fn", "agg", "window"]))
    @settings(max_examples=200, deadline=None)
    def prop(name, slot):
        if slot == "op":
            spec = {"table": "region", "derive": {"x": {"op": name, "args": ["r_regionkey", "r_regionkey"]}}}
        elif slot == "fn":
            spec = {"table": "region", "derive": {"x": {"fn": name, "args": ["r_name"]}}}
        elif slot == "agg":
            spec = {"table": "region", "agg": {"x": {"fn": name, "col": "r_regionkey"}}}
        else:
            spec = {"table": "region", "window": {"x": {"fn": name, "order_by": ["r_regionkey"]}}}
        with pytest.raises(DSLError):
            run_query(catalog, spec)

    prop()


def test_dsl_fuzz_literals_restricted(spark, catalog):
    """Property: only scalar JSON literals compile; containers, bytes, and
    objects raise DSLError."""
    from hypothesis import given, settings, strategies as st

    bad_lits = st.one_of(
        st.lists(st.integers(), min_size=1),
        st.dictionaries(st.text(max_size=3), st.integers(), min_size=1),
        st.binary(min_size=1),
        st.tuples(st.integers()),
    )

    @given(v=bad_lits)
    @settings(max_examples=100, deadline=None)
    def prop(v):
        with pytest.raises(DSLError):
            run_query(catalog, {"table": "region", "derive": {"x": {"lit": v}}})

    prop()


def test_dsl_fuzz_valid_specs_compile(spark, catalog):
    """Property: specs drawn from the whitelist grammar either run or fail
    with a *typed* error (DSLError / Spark analysis error) — never an
    arbitrary crash, never code execution."""
    from hypothesis import given, settings, strategies as st
    from pyspark.errors.exceptions.base import PySparkException

    cols = st.sampled_from(["r_regionkey", "r_name"])
    funcs = st.sampled_from(["lower", "upper", "length", "trim"])
    exprs = st.one_of(
        cols,
        st.builds(lambda c, f: {"fn": f, "args": [c]}, cols, funcs),
        st.builds(lambda v: {"lit": v}, st.integers(-10, 10)),
    )

    @given(
        e=exprs,
        agg=st.sampled_from(["count", "sum", "min", "max"]),
        lim=st.integers(0, 5),
    )
    @settings(max_examples=100, deadline=None)
    def prop(e, agg, lim):
        spec = {
            "table": "region",
            "derive": {"x": e},
            "agg": {"out": ({"fn": agg, "col": "r_regionkey"} if agg != "count" else {"fn": agg})},
            "limit": lim,
        }
        try:
            df = run_query(catalog, spec)
            assert len(df.collect()) <= max(lim, 1)
        except (DSLError, PySparkException):
            pass

    prop()


def test_dsl_dedup_verbs(spark, catalog):
    from esper_tv_spark.operators import dedup as dd

    docs = catalog["documents"]
    # exact dedup matches the library call
    got = run_query(catalog, {"table": "documents", "dedup": {"op": "exact"}})
    want = dd.dedup_exact(docs)
    assert sorted(tuple(r) for r in got.collect()) == sorted(tuple(r) for r in want.collect())
    # near-dup pipeline end-to-end through the DSL
    got2 = run_query(
        catalog,
        {"table": "documents", "dedup": {"op": "near_dup", "n_bands": 4},
         "qualify": [["jaccard", ">=", {"lit": 0.5}]]},
    )
    want2 = dd.lsh_near_dup(docs).where(F.col("jaccard") >= 0.5)
    assert sorted(tuple(r) for r in got2.collect()) == sorted(tuple(r) for r in want2.collect())
    # rejected specs
    for bad in [{"op": "van_gogh"}, {"op": "near_dup", "n_bands": 0},
                {"op": "near_dup", "n_bands": True}, {"op": "exact", "id_col": 3}]:
        with pytest.raises(DSLError):
            run_query(catalog, {"table": "documents", "dedup": bad})


def test_dsl_semantic_dedup_verb(spark, catalog):
    from esper_tv_spark.operators import dedup as dd

    emb = catalog["embeddings"]
    got = run_query(
        catalog,
        {"table": "embeddings", "dedup": {"op": "semantic", "k": 4, "threshold": 0.4}},
    )
    want = dd.semantic_dedup(emb, k=4, threshold=0.4)
    assert sorted(tuple(r) for r in got.collect()) == sorted(tuple(r) for r in want.collect())
    for bad in [
        {"op": "semantic", "threshold": 2.0},
        {"op": "semantic", "threshold": True},
        {"op": "semantic", "k": 0},
        {"op": "semantic", "vec_col": 7},
    ]:
        with pytest.raises(DSLError):
            run_query(catalog, {"table": "embeddings", "dedup": bad})
    # k omitted -> derived from corpus size (never the pinned-8 default
    # that goes quadratic a decade up)
    got_dk = run_query(
        catalog, {"table": "embeddings", "dedup": {"op": "semantic", "threshold": 0.4}}
    )
    want_dk = dd.semantic_dedup(
        emb, k=dd.recommended_clusters(emb.count()), threshold=0.4
    )
    assert sorted(tuple(r) for r in got_dk.collect()) == sorted(
        tuple(r) for r in want_dk.collect()
    )


def test_dsl_ann_probe_matches_library(spark, catalog, tmp_path):
    """The ann_probe verb reaches the persisted serving indexes (ivf /
    ivfpq / ivfsq, auto-detected from the store) by NAME from a
    server-provided index catalog; single-query probes and query_ids
    batches both match the library calls bit-for-bit."""
    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_knn_join_index,
        ivf_probe_index,
        ivfpq_build_index,
        ivfpq_probe_index,
        ivfsq_build_index,
        ivfsq_probe_index,
    )

    emb = catalog["embeddings"]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    paths = {
        "faces_ivf": str(tmp_path / "ivf"),
        "faces_ivfpq": str(tmp_path / "ivfpq"),
        "faces_ivfsq": str(tmp_path / "ivfsq"),
    }
    ivf_build_index(emb, paths["faces_ivf"], n_cells=8)
    ivfpq_build_index(emb, paths["faces_ivfpq"], n_cells=8, m=8, k=16, dim=64)
    ivfsq_build_index(emb, paths["faces_ivfsq"], n_cells=8, dim=64)

    for name, probe_fn in (
        ("faces_ivf", ivf_probe_index),
        ("faces_ivfpq", ivfpq_probe_index),
        ("faces_ivfsq", ivfsq_probe_index),
    ):
        spec = {
            "table": "embeddings",
            "similarity": {"op": "ann_probe", "index": name, "query_id": 0, "k": 5},
        }
        got = [tuple(r) for r in run_query(catalog, spec, index_catalog=paths).collect()]
        want = [tuple(r) for r in probe_fn(spark, paths[name], q, 5, n_probe=3).collect()]
        assert got == want, name

    # batch form -> the amortized-scan kNN join
    spec_b = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces_ivf", "query_ids": [0, 7], "k": 5,
        },
        "order_by": [["qid", "asc"], ["cosine_sim", "desc"], ["vec_id", "asc"]],
    }
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got_b = [tuple(r) for r in run_query(catalog, spec_b, index_catalog=paths).collect()]
    want_b = [
        tuple(r)
        for r in ivf_knn_join_index(spark, paths["faces_ivf"], queries, 5, n_probe=3)
        .orderBy(F.col("qid").asc(), F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .collect()
    ]
    assert got_b == want_b


def test_dsl_ann_probe_two_level_index(spark, catalog, tmp_path):
    """A TWO-LEVEL index (n_groups) behind the catalog serves the same
    spec surface: the n_probe_groups knob passes through to single
    probes and batches bit-for-bit, flat indexes ignore it, and a
    malformed value is a DSLError."""
    import pytest

    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_knn_join_index,
        ivf_probe_index,
    )

    emb = catalog["embeddings"]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    idx = str(tmp_path / "hivf")
    ivf_build_index(emb, idx, n_cells=8, n_groups=4)
    cat = {"faces_hier": idx}
    spec = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces_hier", "query_id": 0, "k": 5,
            "n_probe_groups": 2,
        },
    }
    got = [tuple(r) for r in run_query(catalog, spec, index_catalog=cat).collect()]
    want = [
        tuple(r)
        for r in ivf_probe_index(spark, idx, q, 5, n_probe=3, n_probe_groups=2).collect()
    ]
    assert got == want

    spec_b = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces_hier", "query_ids": [0, 7], "k": 5,
            "n_probe_groups": 2,
        },
        "order_by": [["qid", "asc"], ["cosine_sim", "desc"], ["vec_id", "asc"]],
    }
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got_b = [tuple(r) for r in run_query(catalog, spec_b, index_catalog=cat).collect()]
    want_b = [
        tuple(r)
        for r in ivf_knn_join_index(
            spark, idx, queries, 5, n_probe=3, n_probe_groups=2
        )
        .orderBy(F.col("qid").asc(), F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .collect()
    ]
    assert got_b == want_b

    for bad in (0, -1, True, "x"):
        with pytest.raises(DSLError):
            run_query(
                catalog,
                {
                    "table": "embeddings",
                    "similarity": {
                        "op": "ann_probe", "index": "faces_hier", "query_id": 0,
                        "k": 5, "n_probe_groups": bad,
                    },
                },
                index_catalog=cat,
            )


def test_dsl_ann_probe_rejected_specs(spark, catalog, tmp_path):
    """Index access is name-keyed only: unknown names, raw paths, and
    malformed params are DSLErrors — and without an index_catalog the
    verb is unreachable."""
    import pytest

    from esper_tv_spark.operators.similarity import ivf_build_index

    emb = catalog["embeddings"]
    idx = str(tmp_path / "ivf_dsl")
    ivf_build_index(emb, idx, n_cells=8)
    cat = {"faces": idx}
    bad = [
        ({"op": "ann_probe", "index": "nope", "query_id": 0, "k": 5}, cat),
        # a raw filesystem path is NOT a name in the catalog
        ({"op": "ann_probe", "index": idx, "query_id": 0, "k": 5}, cat),
        ({"op": "ann_probe", "index": "faces", "query_id": 0, "k": 5}, None),
        ({"op": "ann_probe", "index": "faces", "query_id": 0}, cat),
        ({"op": "ann_probe", "index": "faces", "query_id": 0, "k": 0}, cat),
        ({"op": "ann_probe", "index": "faces", "query_id": 0, "k": True}, cat),
        ({"op": "ann_probe", "index": "faces", "k": 5}, cat),
        ({"op": "ann_probe", "index": "faces", "query_id": 0, "k": 5, "n_probe": 0}, cat),
        ({"op": "ann_probe", "index": "faces", "query_ids": [], "k": 5}, cat),
        ({"op": "ann_probe", "index": "faces", "query_ids": [0, "x"], "k": 5}, cat),
        ({"op": "ann_probe", "index": None, "query_id": 0, "k": 5}, cat),
    ]
    for sim_spec, icat in bad:
        with pytest.raises(DSLError):
            run_query(
                catalog,
                {"table": "embeddings", "similarity": sim_spec},
                index_catalog=icat,
            )


def test_dsl_text_verbs_match_library(spark, catalog):
    """The text stage (phrase_search / query_search / bm25) is
    bit-identical to the library calls — the caption-search family is
    the last operator family the safe surface couldn't reach."""
    from esper_tv_spark.operators import text as tx

    docs = catalog["documents"]
    # pick a phrase that actually occurs: first two tokens of some doc
    row = docs.select("text").where(F.length("text") > 20).head()
    words = [w for w in row[0].split(" ") if w][:2]
    phrase = " ".join(words)

    got = run_query(
        catalog,
        {"table": "documents", "text": {"op": "phrase_search", "phrase": phrase}},
    )
    want = tx.phrase_search(docs, phrase)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )

    q = f"{words[0]} & [{words[1]} | zzzznothing]"
    got_q = run_query(
        catalog, {"table": "documents", "text": {"op": "query_search", "query": q}}
    )
    want_q = tx.query_search(docs, q)
    assert sorted(tuple(r) for r in got_q.collect()) == sorted(
        tuple(r) for r in want_q.collect()
    )

    got_b = run_query(
        catalog,
        {
            "table": "documents",
            "text": {"op": "bm25", "terms": words, "k1": 1.5, "b": 0.5},
            "order_by": [["score", "desc"], ["doc_id", "asc"]],
            "limit": 10,
        },
    )
    want_b = (
        tx.bm25_scores(docs, words, k1=1.5, b=0.5)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    assert [tuple(r) for r in got_b.collect()] == [tuple(r) for r in want_b.collect()]


def test_dsl_text_rejected_specs(spark, catalog):
    """Malformed text specs are DSLErrors — including grammar-level
    empties that the library raises as ValueError."""
    bad = [
        {"op": "phrase_search"},
        {"op": "phrase_search", "phrase": ""},
        {"op": "phrase_search", "phrase": "   "},
        {"op": "phrase_search", "phrase": 7},
        {"op": "query_search"},
        {"op": "query_search", "query": 7},
        {"op": "query_search", "query": ""},
        {"op": "query_search", "query": "&"},
        {"op": "query_search", "query": "[]"},
        {"op": "bm25"},
        {"op": "bm25", "terms": []},
        {"op": "bm25", "terms": ["ok", ""]},
        {"op": "bm25", "terms": ["ok", 3]},
        {"op": "bm25", "terms": ["ok"], "k1": -1},
        {"op": "bm25", "terms": ["ok"], "b": True},
        {"op": "grep"},
        {"op": "phrase_search", "phrase": "x", "id_col": 5},
    ]
    for spec in bad:
        with pytest.raises(DSLError):
            run_query(catalog, {"table": "documents", "text": spec})


def test_dsl_fuzz_text_queries(spark, catalog):
    """Fuzz the `&`-grammar surface: ANY query string either compiles
    (returns a DataFrame) or raises DSLError — no other exception type
    escapes (the library's ValueError is wrapped)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import DataFrame

    @given(
        q=st.text(
            alphabet=st.sampled_from(list("ab &|[]'%_\\\"")), max_size=25
        )
    )
    @settings(max_examples=50, deadline=None)
    def check(q):
        try:
            out = run_query(
                catalog,
                {"table": "documents", "text": {"op": "query_search", "query": q}},
            )
        except DSLError:
            return
        assert isinstance(out, DataFrame)

    check()


def test_dsl_ann_probe_kind_whitelist(spark, catalog, tmp_path):
    """Stores that are not probeable ivf/ivfpq/ivfsq indexes are
    REJECTED, not mis-probed: a legacy PQ store (the layout q88 wrote
    before its store became a one-cell IVF-PQ index — codes/ +
    codebooks/, no meta.json), a meta.json with an unknown kind, and an
    empty directory all raise DSLError (r8 defaulted unknown metas to
    ivfpq, which would score a pq store's centroids as posting lists).
    The store q88 reads now, a one-cell IVF-PQ index, probes through the
    DSL exactly as the library's n_probe=1 probe."""
    import json
    import os

    import pytest

    from esper_tv_spark.operators.similarity import ivfpq_build_index, ivfpq_probe_index

    pq_path = str(tmp_path / "pqstore")
    codes = spark.createDataFrame([(0, [3, 1]), (1, [0, 2])], "id long, codes array<int>")
    codes.write.parquet(os.path.join(pq_path, "codes"))
    book = spark.createDataFrame(
        [(0, 0, 0, [0.5]), (1, 0, 0, [0.25])],
        "subspace int, rk int, code long, sc array<double>",
    )
    book.write.parquet(os.path.join(pq_path, "codebooks"))
    weird = str(tmp_path / "weird")
    os.makedirs(weird)
    with open(os.path.join(weird, "meta.json"), "w") as f:
        json.dump({"kind": "hnsw", "dim": 64}, f)
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    one_cell = str(tmp_path / "one_cell")
    emb = catalog["embeddings"]
    ivfpq_build_index(emb, one_cell, n_cells=1, m=8, k=16, dim=64)
    cat = {"pq": pq_path, "weird": weird, "empty": empty, "one_cell": one_cell}

    def probe(name):
        spec = {
            "table": "embeddings",
            "similarity": {"op": "ann_probe", "index": name, "query_id": 0, "k": 3},
        }
        return run_query(catalog, spec, index_catalog=cat)

    for name in ("pq", "weird", "empty"):
        with pytest.raises(DSLError, match="not a probeable"):
            probe(name)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    want = [tuple(r) for r in ivfpq_probe_index(spark, one_cell, q, 3, n_probe=1).collect()]
    assert [tuple(r) for r in probe("one_cell").collect()] == want
    assert len(want) == 3


def test_dsl_ann_probe_batch_missing_and_dup_ids(spark, catalog, tmp_path):
    """The query_ids batch path matches the single-id path's stance on
    absent ids (DSLError, not a silently smaller batch) and surfaces
    duplicate ids in the table as DSLError rather than a raw ValueError
    from the join's internal batch collect."""
    import pytest

    from esper_tv_spark.operators.similarity import ivf_build_index

    emb = catalog["embeddings"]
    idx = str(tmp_path / "ivf_batch_ids")
    ivf_build_index(emb, idx, n_cells=8)
    cat = {"faces": idx}
    with pytest.raises(DSLError, match="not found"):
        run_query(
            catalog,
            {
                "table": "embeddings",
                "similarity": {
                    "op": "ann_probe", "index": "faces",
                    "query_ids": [0, 10_000_000], "k": 3,
                },
            },
            index_catalog=cat,
        )
    dup_cat = dict(catalog)
    dup_cat["embdup"] = emb.union(emb.where(F.col("vec_id") == 0))
    with pytest.raises(DSLError, match="duplicated"):
        run_query(
            dup_cat,
            {
                "table": "embdup",
                "similarity": {
                    "op": "ann_probe", "index": "faces",
                    "query_ids": [0, 7], "k": 3,
                },
            },
            index_catalog=cat,
        )


def test_dsl_fuzz_ann_probe_index_names(spark, catalog, tmp_path):
    """Fuzz: arbitrary index names (including path-traversal shapes)
    either resolve to the one catalog name or raise DSLError — nothing
    else (no filesystem errors leaking through as non-DSL exceptions)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from esper_tv_spark.operators.similarity import ivf_build_index

    emb = catalog["embeddings"]
    idx = str(tmp_path / "ivf_fuzz")
    ivf_build_index(emb, idx, n_cells=8)
    cat = {"faces": idx}
    names = st.one_of(
        st.text(max_size=30),
        st.sampled_from(["faces", "../faces", "/etc/passwd", "faces/../faces", ""]),
    )

    @given(name=names)
    @settings(max_examples=30, deadline=None)
    def check(name):
        spec = {
            "table": "embeddings",
            "similarity": {"op": "ann_probe", "index": name, "query_id": 0, "k": 3},
        }
        if name == "faces":
            assert run_query(catalog, spec, index_catalog=cat).count() == 3
        else:
            with pytest.raises(DSLError):
                run_query(catalog, spec, index_catalog=cat)

    import pytest

    check()


def test_dsl_ann_probe_filter_and_range(spark, catalog, tmp_path):
    """The 'filter' (pre-filtered ANN) and 'threshold' (range search)
    spec keys are bit-identical to the library calls — filtered search
    and radius queries reach the safe surface the way plain probes do."""
    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_knn_join_index,
        ivf_probe_index,
        ivf_range_search,
    )

    emb = catalog["embeddings"]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    idx = str(tmp_path / "ivf_flt")
    ivf_build_index(emb, idx, n_cells=8)
    cat = {"faces": idx}
    allow = emb.where(F.col("label") == 7).select("vec_id")

    # pre-filter, equality op
    spec = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces", "query_id": 0, "k": 5,
            "filter": {"col": "label", "op": "=", "value": 7},
        },
    }
    got = [tuple(r) for r in run_query(catalog, spec, index_catalog=cat).collect()]
    want = [
        tuple(r)
        for r in ivf_probe_index(spark, idx, q, 5, n_probe=3, filter_ids=allow).collect()
    ]
    assert got == want and len(got) > 0

    # 'in' op
    allow_in = emb.where(F.col("label").isin([3, 7])).select("vec_id")
    spec["similarity"]["filter"] = {"col": "label", "op": "in", "value": [3, 7]}
    got = [tuple(r) for r in run_query(catalog, spec, index_catalog=cat).collect()]
    want = [
        tuple(r)
        for r in ivf_probe_index(spark, idx, q, 5, n_probe=3, filter_ids=allow_in).collect()
    ]
    assert got == want

    # filter on the batch form
    spec_b = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces", "query_ids": [0, 7], "k": 5,
            "filter": {"col": "label", "op": "=", "value": 7},
        },
        "order_by": [["qid", "asc"], ["cosine_sim", "desc"], ["vec_id", "asc"]],
    }
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got_b = [tuple(r) for r in run_query(catalog, spec_b, index_catalog=cat).collect()]
    want_b = [
        tuple(r)
        for r in ivf_knn_join_index(spark, idx, queries, 5, n_probe=3, filter_ids=allow)
        .orderBy(F.col("qid").asc(), F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .collect()
    ]
    assert got_b == want_b

    # range search via 'threshold' (no k), and combined with the filter
    spec_r = {
        "table": "embeddings",
        "similarity": {
            "op": "ann_probe", "index": "faces", "query_id": 0, "threshold": 0.15,
        },
    }
    got_r = [tuple(r) for r in run_query(catalog, spec_r, index_catalog=cat).collect()]
    want_r = [
        tuple(r) for r in ivf_range_search(spark, idx, q, 0.15, n_probe=3).collect()
    ]
    assert got_r == want_r and len(got_r) > 0

    spec_r["similarity"]["filter"] = {"col": "label", "op": "=", "value": 7}
    got_rf = [tuple(r) for r in run_query(catalog, spec_r, index_catalog=cat).collect()]
    want_rf = [
        tuple(r)
        for r in ivf_range_search(spark, idx, q, 0.15, n_probe=3, filter_ids=allow).collect()
    ]
    assert got_rf == want_rf


def test_dsl_ann_probe_filter_range_rejections(spark, catalog, tmp_path):
    """Filter/threshold misuse fails closed: predicate shapes are
    validated as data, range search refuses coded stores and batches,
    and 'threshold'/'k' never coexist."""
    import pytest

    from esper_tv_spark.operators.similarity import ivf_build_index, ivfsq_build_index

    emb = catalog["embeddings"]
    ivf = str(tmp_path / "ivf_rej")
    sq = str(tmp_path / "sq_rej")
    ivf_build_index(emb, ivf, n_cells=8)
    ivfsq_build_index(emb, sq, n_cells=8, dim=64)
    cat = {"faces": ivf, "faces_sq": sq}
    base = {"op": "ann_probe", "index": "faces", "query_id": 0}
    bad = [
        # threshold/k exclusivity + typing
        {**base, "k": 5, "threshold": 0.2},
        {**base, "threshold": True},
        {**base, "threshold": "0.2"},
        # range search refuses coded stores and batch queries
        {**base, "index": "faces_sq", "threshold": 0.2},
        {"op": "ann_probe", "index": "faces", "query_ids": [0, 7], "threshold": 0.2},
        # filter shape validation
        {**base, "k": 5, "filter": "label = 7"},
        {**base, "k": 5, "filter": {"col": "nope", "op": "=", "value": 7}},
        {**base, "k": 5, "filter": {"col": "label", "op": "~", "value": 7}},
        {**base, "k": 5, "filter": {"col": "label", "op": "=", "value": [7]}},
        {**base, "k": 5, "filter": {"col": "label", "op": "=", "value": True}},
        {**base, "k": 5, "filter": {"col": "label", "op": "in", "value": []}},
        {**base, "k": 5, "filter": {"col": "label", "op": "in", "value": 7}},
        {**base, "k": 5, "filter": {"col": "label", "op": "in", "value": [7, True]}},
        {**base, "k": 5, "filter": {"col": 3, "op": "=", "value": 7}},
        # a bad id_col with a valid filter must be a DSLError, not a raw
        # AnalysisException from the allow-set select
        {**base, "k": 5, "id_col": "nope",
         "filter": {"col": "label", "op": "=", "value": 7}},
    ]
    for sim_spec in bad:
        with pytest.raises(DSLError):
            run_query(
                catalog,
                {"table": "embeddings", "similarity": sim_spec},
                index_catalog=cat,
            )


def test_dsl_hybrid_matches_library(spark, catalog, tmp_path):
    """The hybrid verb (BM25 + IVF-probe RRF — q109's shape) is
    bit-identical to the library composition, plain and weighted."""
    from esper_tv_spark.operators.retrieval import hybrid_search, rrf_fuse
    from esper_tv_spark.operators.similarity import ivf_build_index, ivf_probe_index
    from esper_tv_spark.operators.text import bm25_scores

    emb = catalog["embeddings"]
    docs = catalog["documents"]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    idx = str(tmp_path / "ivf_hyb")
    ivf_build_index(emb, idx, n_cells=8)
    cat = {"faces": idx}
    terms = ["the", "data", "model"]

    spec = {
        "table": "documents",
        "similarity": {
            "op": "hybrid", "index": "faces", "terms": terms, "query": q,
            "k": 15, "k_cand": 20, "n_probe": 3,
        },
    }
    got = [tuple(r) for r in run_query(catalog, spec, index_catalog=cat).collect()]
    want = [
        tuple(r)
        for r in hybrid_search(
            docs, spark, idx, terms, q, 15, k_cand=20, n_probe=3
        ).collect()
    ]
    assert got == want and len(got) > 0

    spec["similarity"]["weights"] = [2.0, 1.0]
    got_w = [tuple(r) for r in run_query(catalog, spec, index_catalog=cat).collect()]
    lex = (
        bm25_scores(docs, terms)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    vec = ivf_probe_index(spark, idx, q, 20, n_probe=3)
    want_w = [
        tuple(r)
        for r in rrf_fuse(
            [(lex, "doc_id", "score", True), (vec, "vec_id", "cosine_sim", True)],
            k=60, weights=[2.0, 1.0],
        ).limit(15).collect()
    ]
    assert got_w == want_w
    assert got_w != got  # the weighting must actually change the fusion


def test_dsl_hybrid_rejections(spark, catalog, tmp_path):
    import pytest

    from esper_tv_spark.operators.similarity import ivf_build_index, ivfsq_build_index

    emb = catalog["embeddings"]
    ivf = str(tmp_path / "hyb_ivf")
    sq = str(tmp_path / "hyb_sq")
    ivf_build_index(emb, ivf, n_cells=8)
    ivfsq_build_index(emb, sq, n_cells=8, dim=64)
    cat = {"faces": ivf, "faces_sq": sq}
    q = [0.0] * 64
    base = {"op": "hybrid", "index": "faces", "terms": ["the"], "query": q, "k": 5}
    bad = [
        {**base, "index": "nope"},
        {**base, "index": "faces_sq"},     # coded store: no raw rerank
        {**base, "terms": []},
        {**base, "terms": ["the", 3]},
        {**base, "terms": "the"},
        {**base, "query": "not-a-vec"},
        {**base, "k": 0},
        {**base, "k_cand": 0},
        {**base, "n_probe": True},
        {**base, "rrf_k": -1},
        {**base, "weights": [1.0]},
        {**base, "weights": [1.0, 0.0]},
        {**base, "weights": [1.0, True]},
        {**base, "id_col": "nope"},
        {**base, "text_col": "nope"},
        {**base, "text_col": 3},
    ]
    for sim_spec in bad:
        with pytest.raises(DSLError):
            run_query(
                catalog,
                {"table": "documents", "similarity": sim_spec},
                index_catalog=cat,
            )


def test_dsl_hybrid_interp_method(spark, catalog, tmp_path):
    """method='interp' routes the same candidate lists through
    interp_fuse (q114's shape) — bit-parity with the library, rejection
    of method typos and weightless interp."""
    import pytest as _pytest

    from esper_tv_spark.operators.retrieval import interp_fuse
    from esper_tv_spark.operators.similarity import ivf_build_index, ivf_probe_index
    from esper_tv_spark.operators.text import bm25_scores

    emb = catalog["embeddings"]
    docs = catalog["documents"]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    idx = str(tmp_path / "ivf_interp")
    ivf_build_index(emb, idx, n_cells=8)
    cat = {"faces": idx}
    terms = ["the", "data", "model"]
    spec = {
        "table": "documents",
        "similarity": {
            "op": "hybrid", "index": "faces", "terms": terms, "query": q,
            "k": 15, "k_cand": 20, "n_probe": 3,
            "method": "interp", "weights": [0.7, 0.3],
        },
    }
    got = [tuple(r) for r in run_query(catalog, spec, index_catalog=cat).collect()]
    lex = (
        bm25_scores(docs, terms)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    vec = ivf_probe_index(spark, idx, q, 20, n_probe=3)
    want = [
        tuple(r)
        for r in interp_fuse(
            [(lex, "doc_id", "score", True), (vec, "vec_id", "cosine_sim", True)],
            weights=[0.7, 0.3],
        ).limit(15).collect()
    ]
    assert got == want and len(got) > 0
    for bad in (
        {**spec["similarity"], "method": "combsum"},
        {k: v for k, v in spec["similarity"].items() if k != "weights"},
    ):
        with _pytest.raises(DSLError):
            run_query(catalog, {"table": "documents", "similarity": bad},
                      index_catalog=cat)


# ---------------------------------------------------------------------------
# round-10 DSL verbs: edit_join / set_sim_join / analyze stage
# ---------------------------------------------------------------------------


def test_dsl_edit_join_parity(spark):
    from esper_tv_spark.frontend.dsl import run_query
    from esper_tv_spark.operators.dedup import edit_similarity_join

    df = spark.createDataFrame(
        [(0, "abcdef"), (1, "abcxef"), (2, "zzzzzz"), (3, "abcxyf")],
        "doc_id LONG, s STRING",
    )
    out = run_query({"t": df}, {"table": "t", "dedup": {"op": "edit_join", "col": "s", "t": 2}})
    want = {(r.id_a, r.id_b, r.dist) for r in edit_similarity_join(df, t=2, str_col="s").collect()}
    assert {(r.id_a, r.id_b, r.dist) for r in out.collect()} == want and want


def test_dsl_set_sim_join_and_rejections(spark):
    import pytest as _pytest

    from esper_tv_spark.frontend import dsl

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d f"), (2, "x y z w q")],
        "doc_id LONG, text STRING",
    )
    out = dsl.run_query(
        {"t": df}, {"table": "t", "dedup": {"op": "set_sim_join", "tau": 0.4}}
    )
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 1)}
    with _pytest.raises(dsl.DSLError):
        dsl.run_query({"t": df}, {"table": "t", "dedup": {"op": "set_sim_join", "tau": 0}})
    with _pytest.raises(dsl.DSLError):
        dsl.run_query({"t": df}, {"table": "t", "dedup": {"op": "edit_join", "col": "nope"}})
    with _pytest.raises(dsl.DSLError):
        dsl.run_query({"t": df}, {"table": "t", "dedup": {"op": "edit_join", "col": "text", "t": 0}})


def test_dsl_analyze_stage(spark):
    from datetime import datetime

    import pytest as _pytest

    from esper_tv_spark.frontend import dsl
    from esper_tv_spark.operators.events import funnel

    rows = [
        (0, datetime(2024, 1, 1, 0), 1, "signup", 1.0),
        (1, datetime(2024, 1, 1, 1), 1, "click", 1.0),
        (2, datetime(2024, 1, 1, 2), 1, "purchase", 1.0),
        (3, datetime(2024, 1, 1, 0), 2, "signup", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    )
    out = dsl.run_query(
        {"events": ev},
        {"table": "events", "analyze": {"op": "funnel", "steps": ["signup", "click", "purchase"]}},
    )
    want = {(r.step, r.users) for r in funnel(ev, ["signup", "click", "purchase"]).collect()}
    assert {(r.step, r.users) for r in out.collect()} == want

    ret = dsl.run_query(
        {"events": ev}, {"table": "events", "analyze": {"op": "retention", "by": "user_id"}}
    )
    assert {(r.period_offset, r.users) for r in ret.collect()} == {(0, 2)}

    gf = dsl.run_query(
        {"events": ev}, {"table": "events", "analyze": {"op": "gap_fill", "bucket": "1 hour"}}
    )
    assert gf.count() == 3 * 3  # dense grid: 3 event types x 3 hours
    hh = dsl.run_query(
        {"events": ev},
        {"table": "events", "analyze": {"op": "heavy_hitters", "key": "event_type", "phi": 0.5}},
    )
    assert {(r.event_type, r.cnt) for r in hh.collect()} == {("signup", 2)}

    with _pytest.raises(dsl.DSLError):
        dsl.run_query({"events": ev}, {"table": "events", "analyze": {"op": "nope"}})
    with _pytest.raises(dsl.DSLError):
        dsl.run_query(
            {"events": ev}, {"table": "events", "analyze": {"op": "funnel", "steps": []}}
        )
    with _pytest.raises(dsl.DSLError):
        dsl.run_query(
            {"events": ev},
            {"table": "events", "analyze": {"op": "heavy_hitters", "key": "event_type", "phi": 2}},
        )
