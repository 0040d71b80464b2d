"""SORTED (object-store) posting layout vs the default dirs layout.

The dirs layout prunes probes with one directory per cell; at the 2e9
auto sizing that is ~180k dirs — a LIST-cost wall on any object store and
a measured file-creation wall at build (r9 hier20m: ~17 min of the build
was the 180k-dir posting write).  The sorted layout
(similarity._posting_write) range-partitions and sorts posting rows by
(cell, id) into one flat dir; the probe's `cell IN (...)` predicate is
pushed to parquet and row-group min/max stats prune the I/O — pruning by
STATS instead of by DIRECTORIES, the Spark-idiomatic manifest.

The layout must be invisible in answers: every probe family is
bit-identical across layouts (the whole contract), the predicate
actually reaches the scan (PushedFilters), and streaming maintenance —
which bookkeeps per-cell directories — fails closed on sorted indexes.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esper_tv_spark.operators import similarity as sim
from esper_tv_spark.plans import physical_plan

SF = "/root/testdata/sf0.001"


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
def both_ivf(spark, emb, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lay") / "dirs")
    s = str(tmp_path_factory.mktemp("lay") / "sorted")
    sim.ivf_build_index(emb, d, n_cells=16)
    sim.ivf_build_index(emb, s, n_cells=16, layout="sorted")
    return d, s


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_sorted_layout_probe_parity(spark, emb, qv, both_ivf):
    d, s = both_ivf
    assert os.path.isdir(os.path.join(s, "cells_sorted"))
    assert not os.path.isdir(os.path.join(s, "cells"))
    a = _rows(sim.ivf_probe_index(spark, d, qv, 10, n_probe=3))
    b = _rows(sim.ivf_probe_index(spark, s, qv, 10, n_probe=3))
    assert a == b and len(a) == 10


def test_sorted_layout_pushes_cell_filter(spark, emb, qv, both_ivf):
    _, s = both_ivf
    plan = physical_plan(sim.ivf_probe_index(spark, s, qv, 10, n_probe=3))
    # the isin must reach the parquet reader as a pushed filter (In) so
    # row-group stats can prune — a post-scan Filter would read everything
    assert "PushedFilters: [In(cell" in plan


def test_sorted_layout_knn_join_and_range_parity(spark, emb, both_ivf):
    d, s = both_ivf
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = _rows(sim.ivf_knn_join_index(spark, d, queries, 5, n_probe=3))
    b = _rows(sim.ivf_knn_join_index(spark, s, queries, 5, n_probe=3))
    assert a == b and len(a) == 10
    qv0 = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    ra = _rows(sim.ivf_range_search(spark, d, qv0, 0.15, n_probe=3))
    rb = _rows(sim.ivf_range_search(spark, s, qv0, 0.15, n_probe=3))
    assert ra == rb and len(ra) > 0


def test_sorted_layout_pq_sq_parity(spark, emb, qv, tmp_path):
    for build, probe, kw in (
        (sim.ivfpq_build_index, sim.ivfpq_probe_index, {"m": 8, "k": 16, "dim": 64}),
        (sim.ivfsq_build_index, sim.ivfsq_probe_index, {"dim": 64}),
    ):
        d = str(tmp_path / f"d_{build.__name__}")
        s = str(tmp_path / f"s_{build.__name__}")
        build(emb, d, n_cells=16, **kw)
        build(emb, s, n_cells=16, layout="sorted", **kw)
        a = _rows(probe(spark, d, qv, 10, n_probe=3))
        b = _rows(probe(spark, s, qv, 10, n_probe=3))
        assert a == b and len(a) == 10


def test_sorted_layout_composes_with_tombstones_and_filters(spark, emb, qv, both_ivf):
    from esper_tv_spark.streaming.ann import ann_delete

    d, s = both_ivf
    allow = emb.where(F.col("label") == 7).select("vec_id")
    a = _rows(sim.ivf_probe_index(spark, d, qv, 10, n_probe=3, filter_ids=allow))
    b = _rows(sim.ivf_probe_index(spark, s, qv, 10, n_probe=3, filter_ids=allow))
    assert a == b and len(a) > 0
    # tombstones are layout-independent (the filter runs on the scan)
    victim = int(a[0][0])
    ann_delete(spark, s, [victim])
    after = _rows(sim.ivf_probe_index(spark, s, qv, 10, n_probe=3, filter_ids=allow))
    assert all(int(r[0]) != victim for r in after)


def test_sorted_layout_maintenance_fails_closed(spark, emb, both_ivf, tmp_path):
    from esper_tv_spark.streaming.ann import (
        compact_posting_lists,
        ivf_recenter,
        ivf_stream_insert,
        posting_fragment_census,
    )

    _, s = both_ivf
    with pytest.raises(ValueError, match="sorted"):
        posting_fragment_census(s)
    with pytest.raises(ValueError, match="sorted"):
        compact_posting_lists(spark, s)
    with pytest.raises(ValueError, match="sorted"):
        ivf_recenter(spark, s)
    src = tmp_path / "stream_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .parquet(str(src))
    )
    with pytest.raises(ValueError, match="sorted"):
        ivf_stream_insert(stream, s, str(tmp_path / "ck"))


def test_bad_layout_rejected(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="dirs.*sorted|sorted.*dirs"):
        sim.ivf_build_index(emb, str(tmp_path / "x"), n_cells=16, layout="zorder")
