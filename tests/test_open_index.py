"""One way to open an index: `similarity._open_index` classifies an index
directory (ivf / ivfpq / ivfsq) from its meta.json or its tables, and
every probe, join, stream insert and rewrite opens the index first, so
an operation handed an index of a kind it does not serve raises
ValueError before any work — it never appends rows of the wrong shape
into another kind's posting lists."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from esper_tv_spark.operators.similarity import (
    _open_index,
    ivf_build_index,
    ivfpq_build_index,
    ivfsq_build_index,
    ivfsq_probe_index,
)
from esper_tv_spark.streaming import file_stream
from esper_tv_spark.streaming.ann import (
    ivf_recenter,
    ivf_stream_insert,
    ivfpq_stream_insert,
    ivfsq_stream_insert,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )


def _posting_bytes(idx):
    """Every file of the published `cells/` generation -> its digest."""
    cells = os.path.realpath(os.path.join(idx, "cells"))
    out = {}
    for root, _dirs, files in os.walk(cells):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, cells)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_open_index_classifies_every_store(tmp_path):
    """The opener's rules, on hand-made directories: no meta.json plus
    cells/ and centroids/ is ivf; kind "ivfsq" is ivfsq; no kind plus
    by_residual, m, k and dim is ivfpq; anything else, and a kind the
    caller does not serve, raises ValueError."""

    def store(name, meta=None, tables=("cells", "centroids")):
        path = tmp_path / name
        path.mkdir()
        for t in tables:
            (path / t).mkdir()
        if meta is not None:
            (path / "meta.json").write_text(json.dumps(meta))
        return str(path)

    ivf = _open_index(store("ivf", tables=("cells", "centroids", "groups")))
    assert (ivf.kind, ivf.two_level, ivf.dim, ivf.opq) == ("ivf", True, None, False)
    sq = _open_index(store("sq", {"kind": "ivfsq", "dim": 64}))
    assert (sq.kind, sq.dim, sq.two_level) == ("ivfsq", 64, False)
    pq = _open_index(
        store("pq", {"by_residual": True, "m": 8, "k": 16, "dim": 64, "opq": True})
    )
    assert (pq.kind, pq.m, pq.k, pq.dim, pq.by_residual, pq.opq) == (
        "ivfpq", 8, 16, 64, True, True,
    )
    assert _open_index(pq.path, "ivfpq", "ivfsq") == pq

    not_stores = [
        store("empty", tables=()),
        store("cells_only", tables=("cells",)),
        store("hnsw", {"kind": "hnsw", "dim": 64}),
        store("pq_no_m", {"by_residual": False, "k": 16, "dim": 64}),
        store("list_meta", [1, 2]),
    ]
    broken = store("broken", tables=())
    with open(os.path.join(broken, "meta.json"), "w") as f:
        f.write("{not json")
    for path in [*not_stores, broken]:
        with pytest.raises(ValueError, match="not a probeable"):
            _open_index(path)
    with pytest.raises(ValueError, match="is an ivfsq store"):
        _open_index(sq.path, "ivf")


def _build(kind, df, idx):
    {
        "ivf": lambda: ivf_build_index(df, idx, n_cells=8),
        "ivfpq": lambda: ivfpq_build_index(df, idx, n_cells=8, m=8, k=16, dim=64),
        "ivfsq": lambda: ivfsq_build_index(df, idx, n_cells=8, dim=64),
    }[kind]()


def _insert(insert):
    def op(spark, idx, tmp_path, emb):
        src = str(tmp_path / "src")
        emb.where(F.col("vec_id") >= 200).coalesce(1).write.parquet(src)
        stream = file_stream(spark, src, emb.schema)
        insert(stream, idx, str(tmp_path / "ckpt")).start().awaitTermination(180)

    return op


def _sq_probe(spark, idx, _tmp_path, emb):
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    ivfsq_probe_index(spark, idx, qv, 10, n_probe=3).collect()


OPS = {
    "ivf_stream_insert": _insert(ivf_stream_insert),
    "ivfpq_stream_insert": _insert(ivfpq_stream_insert),
    "ivfsq_stream_insert": _insert(ivfsq_stream_insert),
    "ivf_recenter": lambda spark, idx, _tmp_path, _emb: ivf_recenter(spark, idx),
    "ivfsq_probe_index": _sq_probe,
}


@pytest.mark.parametrize(
    "op, kind",
    [
        ("ivf_stream_insert", "ivfpq"),
        ("ivf_stream_insert", "ivfsq"),
        ("ivfpq_stream_insert", "ivf"),
        ("ivfsq_stream_insert", "ivfpq"),
        ("ivf_recenter", "ivfpq"),
        ("ivf_recenter", "ivfsq"),
        ("ivfsq_probe_index", "ivf"),
    ],
)
def test_op_refuses_an_index_of_another_kind(spark, tmp_path, op, kind):
    """Each op raises the opener's ValueError on an index of a kind it
    does not serve — an insert before its stream starts, a recenter
    before it reads a posting row, an SQ probe on a directory without
    meta.json — and leaves the index's posting files byte-identical."""
    emb = _emb(spark)
    idx = str(tmp_path / kind)
    _build(kind, emb.where(F.col("vec_id") < 200), idx)
    listing, before = sorted(os.listdir(idx)), _posting_bytes(idx)

    with pytest.raises(ValueError, match=f"is an {kind} store"):
        OPS[op](spark, idx, tmp_path, emb)

    assert sorted(os.listdir(idx)) == listing
    assert _posting_bytes(idx) == before
    assert not os.path.exists(tmp_path / "ckpt")
