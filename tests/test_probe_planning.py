"""Planning an IVF probe reads the index's metadata on the driver: the
centroids and tombstone ids with pyarrow, the posting schema from one
parquet footer.  Building a DSL `ann_probe` or `hybrid` plan therefore
launches no Spark job, and an `ann_probe` result launches exactly one —
on an index carrying stream-inserted fragments and tombstones, with the
library probe's rows and no tombstoned id ever returned.  A DSL
`query_ids` batch launches only its two batch collects, and an
uncommitted tombstone write is invisible to every read."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from esper_tv_spark.frontend.dsl import run_query
from esper_tv_spark.frontend.result_json import to_result_json
from esper_tv_spark.operators.similarity import (
    _read_cells,
    ivf_build_index,
    ivf_knn_join_index,
    ivf_probe_index,
    ivfpq_build_index,
    ivfpq_knn_join_index,
    ivfsq_build_index,
    ivfsq_knn_join_index,
    lit_norm,
    lit_vector,
    norm,
)
from esper_tv_spark.streaming import file_stream
from esper_tv_spark.streaming.ann import (
    ann_delete,
    compact_posting_lists,
    ivf_stream_insert,
    ivfpq_stream_insert,
    ivfsq_stream_insert,
    posting_fragment_census,
)

DIM = 64
N_BASE, N_TAIL = 400, 200


def _vectors(spark):
    v = np.random.default_rng(11).standard_normal((N_BASE + N_TAIL, DIM)).round(4)
    rows = [(i, [float(x) for x in v[i]]) for i in range(len(v))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _stream_insert(spark, insert, idx, tail, work):
    """Two micro-batches, so touched cells gain two fragments each."""
    src = os.path.join(work, "tail_src")
    tail.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src)
    tail.where(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    insert(stream, idx, os.path.join(work, "ckpt")).start().awaitTermination(180)


def _spec(q, n_probe=3):
    return {
        "table": "vectors",
        "similarity": {"op": "ann_probe", "index": "live", "query": q, "k": 10, "n_probe": n_probe},
    }


def _dsl_rows(res):
    return [(e["vec_id"], e["cosine_sim"]) for g in res["result"] for e in g["elements"]]


@pytest.fixture(scope="module")
def live_index(spark, tmp_path_factory):
    """An ivf index with stream-inserted fragments and two tombstones:
    one base id, one stream-inserted id.  Victim queries probe all 16
    cells, so the victim's own cell is always scanned."""
    work = str(tmp_path_factory.mktemp("live_index"))
    emb = _vectors(spark)
    idx = os.path.join(work, "idx")
    ivf_build_index(emb.where(F.col("vec_id") < N_BASE), idx, n_cells=16)
    _stream_insert(spark, ivf_stream_insert, idx, emb.where(F.col("vec_id") >= N_BASE), work)
    vecs = {int(r[0]): [float(x) for x in r[1]] for r in emb.collect()}
    cat = {"vectors": emb}
    victims = [7, N_BASE + 3]
    for v in victims:
        # a query equal to the victim finds it before the delete
        res = to_result_json(run_query(cat, _spec(vecs[v], 16), index_catalog={"live": idx}))
        assert _dsl_rows(res)[0][0] == v
    ann_delete(spark, idx, victims)
    return idx, cat, vecs, victims


def test_dsl_ann_probe_plans_without_jobs(spark, live_index, count_jobs):
    idx, cat, vecs, _victims = live_index
    assert max(posting_fragment_census(idx).values()) > 1
    q = vecs[42]
    df, built = count_jobs(lambda: run_query(cat, _spec(q), index_catalog={"live": idx}))
    assert built == 0
    res, ran = count_jobs(lambda: to_result_json(df))
    assert ran == 1
    want = [tuple(r) for r in ivf_probe_index(spark, idx, q, 10, n_probe=3).collect()]
    assert _dsl_rows(res) == want and len(want) == 10


def test_tombstoned_query_never_returns_its_id(spark, live_index):
    idx, cat, vecs, victims = live_index
    for v in victims:
        # logical delete: the row is still in the posting lists
        cells = spark.read.parquet(os.path.join(idx, "cells"))
        assert cells.where(F.col("id") == v).count() == 1
        res = to_result_json(run_query(cat, _spec(vecs[v], 16), index_catalog={"live": idx}))
        got = [i for i, _ in _dsl_rows(res)]
        assert v not in got and len(got) == 10
        lib = ivf_probe_index(spark, idx, vecs[v], 10, n_probe=16).collect()
        assert v not in [r[0] for r in lib]


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "ivfsq"])
def test_dsl_query_ids_batch_plans_with_its_two_collects(spark, tmp_path, kind, count_jobs):
    """A DSL `ann_probe` over `query_ids` builds with exactly two jobs:
    the DSL's query-id check and the join's one query-batch collect —
    cell ranking, LUTs and index metadata add none.  Its rows are the
    library join's."""
    emb = _vectors(spark).where(F.col("vec_id") < N_BASE)
    idx = str(tmp_path / kind)
    build, join = {
        "ivf": (lambda: ivf_build_index(emb, idx, n_cells=16), ivf_knn_join_index),
        "ivfpq": (
            lambda: ivfpq_build_index(emb, idx, n_cells=16, m=8, k=16, dim=DIM, by_residual=True),
            ivfpq_knn_join_index,
        ),
        "ivfsq": (lambda: ivfsq_build_index(emb, idx, n_cells=16, dim=DIM), ivfsq_knn_join_index),
    }[kind]
    build()
    qids = [3, 42, 77]
    spec = {
        "table": "vectors",
        "similarity": {"op": "ann_probe", "index": "live", "query_ids": qids, "k": 10, "n_probe": 3},
    }
    df, built = count_jobs(lambda: run_query({"vectors": emb}, spec, index_catalog={"live": idx}))
    assert built == 2
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = sorted(tuple(r) for r in join(spark, idx, queries, 10, n_probe=3).collect())
    assert sorted(tuple(r) for r in df.collect()) == want and len(want) == 30


def test_dsl_hybrid_plans_without_jobs(spark, live_index, count_jobs):
    idx, _cat, vecs, _victims = live_index
    words = ["face", "news", "anchor", "weather", "sports"]
    docs = spark.createDataFrame(
        [(i, f"{words[i % 5]} {words[(i * 3) % 5]} clip {i}") for i in range(N_BASE)],
        "doc_id long, text string",
    )
    spec = {
        "table": "docs",
        "similarity": {"op": "hybrid", "index": "live", "terms": ["news", "anchor"], "query": vecs[42], "k": 5},
    }
    df, built = count_jobs(lambda: run_query({"docs": docs}, spec, index_catalog={"live": idx}))
    assert built == 0
    assert len(df.collect()) == 5


def test_uncommitted_tombstone_write_is_invisible(spark, tmp_path):
    """A first `ann_delete` caught mid-write leaves `tombstones/` holding
    only its `_temporary/` attempt.  Every read ignores it — the DSL
    probe, the batch join and a purge return unchanged rows — and the
    purge leaves the in-flight write in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = _vectors(spark).where(F.col("vec_id") < N_BASE)
    idx = str(tmp_path / "idx")
    ivf_build_index(emb, idx, n_cells=16)
    cat, q = {"vectors": emb}, [float(x) for x in emb.where(F.col("vec_id") == 42).first()[1]]
    queries = emb.where(F.col("vec_id").isin([42, 77])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def reads():
        probe = _dsl_rows(to_result_json(run_query(cat, _spec(q), index_catalog={"live": idx})))
        join = sorted(tuple(r) for r in ivf_knn_join_index(spark, idx, queries, 10).collect())
        return probe, join

    before = reads()
    assert before[0][0][0] == 42
    attempt = os.path.join(idx, "tombstones", "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(attempt)
    pq.write_table(pa.table({"id": pa.array([42], pa.int64())}), os.path.join(attempt, "part-0.parquet"))
    assert reads() == before
    compact_posting_lists(spark, idx, purge=True)
    assert reads() == before
    assert os.path.isdir(attempt)


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "ivfsq"])
def test_read_cells_declares_the_inferred_posting_schema(spark, tmp_path, kind, count_jobs):
    """The posting schema `_read_cells` declares (one footer plus the
    `cell` partition column) equals what `spark.read.parquet` infers,
    field for field including nullability, for every probed cell —
    before and after a stream insert, so fragments and
    the ivfpq/ivfsq code layouts keep their types."""
    emb = _vectors(spark)
    base, tail = emb.where(F.col("vec_id") < N_BASE), emb.where(F.col("vec_id") >= N_BASE)
    idx = str(tmp_path / kind)
    build, insert = {
        "ivf": (lambda df: ivf_build_index(df, idx, n_cells=8), ivf_stream_insert),
        "ivfpq": (lambda df: ivfpq_build_index(df, idx, n_cells=8, m=8, k=16, dim=DIM), ivfpq_stream_insert),
        "ivfsq": (lambda df: ivfsq_build_index(df, idx, n_cells=8, dim=DIM), ivfsq_stream_insert),
    }[kind]
    build(base)
    cdir = os.path.join(idx, "cells")

    def check():
        inferred = spark.read.parquet(cdir).schema
        cells = sorted(int(r[0]) for r in spark.read.parquet(cdir).select("cell").distinct().collect())
        assert len(cells) > 1
        for c in cells:
            declared, jobs = count_jobs(lambda: _read_cells(spark, idx, [c]))
            assert declared.schema == inferred, (c, declared.schema, inferred)
            assert jobs == 0

    check()
    _stream_insert(spark, insert, idx, tail, str(tmp_path))
    check()


def test_lit_norm_has_the_bits_of_the_spark_fold(spark):
    """The probes' driver-folded query norm equals Spark's own
    `norm(lit_vector(q))` bit for bit, so their scores do not move."""
    rng = np.random.default_rng(3)
    vecs = [rng.standard_normal(DIM).round(6).tolist() for _ in range(20)]
    vecs += [[0.0] * DIM, [1e-300, 3.0, -2.5e-7], [0.1] * 3]
    row = spark.range(1).select(
        *[norm(lit_vector(v)).alias(f"spark{i}") for i, v in enumerate(vecs)],
        *[lit_norm(v).alias(f"driver{i}") for i, v in enumerate(vecs)],
    ).first()
    for i in range(len(vecs)):
        assert row[f"spark{i}"].hex() == row[f"driver{i}"].hex(), vecs[i]
