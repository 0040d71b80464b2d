"""Incremental IVF maintenance: streaming inserts against frozen stored
centroids must equal a batch rebuild over the union, and the re-center
compaction must leave a self-consistent, label-preserving index."""

import os

import pytest
from pyspark.sql import functions as F

from esper_tv_spark.operators.similarity import (
    ivf_build_index,
    ivf_probe_index,
    lloyd_assign,
)
from esper_tv_spark.streaming import file_stream
from esper_tv_spark.streaming.ann import ivf_recenter, ivf_stream_insert

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )


def test_stream_insert_equals_batch_rebuild(spark, tmp_path):
    emb = _emb(spark)
    # base holds the k smallest ids (the rank-based init set), so the
    # union rebuild derives the SAME frozen centroids the stream used
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)

    idx = str(tmp_path / "ivf_stream")
    ivf_build_index(base, idx, n_cells=16)

    src = str(tmp_path / "tail_src")
    tail.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src)
    tail.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(src, mode="append")
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    q = ivf_stream_insert(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)

    idx_full = str(tmp_path / "ivf_full")
    ivf_build_index(emb, idx_full, n_cells=16)

    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    got = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    want = [tuple(r) for r in ivf_probe_index(spark, idx_full, qv, 10, n_probe=3).collect()]
    assert got == want and len(got) == 10

    # the stored posting lists themselves match the full rebuild
    a = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(idx, "cells"))
        .select("id", "cell").collect()
    )
    b = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(idx_full, "cells"))
        .select("id", "cell").collect()
    )
    assert a == b


def test_recenter_is_self_consistent_and_label_preserving(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ivf_rc")
    ivf_build_index(emb, idx, n_cells=8)
    before_cells = spark.read.parquet(os.path.join(idx, "cells"))
    n_before = before_cells.count()
    labels_before = {
        r["cell"] for r in spark.read.parquet(os.path.join(idx, "centroids"))
        .select("cell").collect()
    }

    ivf_recenter(spark, idx)

    cells = spark.read.parquet(os.path.join(idx, "cells"))
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    assert cells.count() == n_before
    assert {r["cell"] for r in cents.select("cell").collect()} == labels_before

    # self-consistency: every stored posting row sits in the argmin cell
    # of the NEW centroids (the rewrite really did reassign)
    re = lloyd_assign(
        cells.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding")),
        centroids=cents.select(F.col("cell").alias("cluster"), F.col("cv").alias("cvec")),
    )
    mism = (
        cells.select(F.col("id").alias("vec_id"), F.col("cell").alias("stored"))
        .join(re, "vec_id")
        .where(F.col("stored") != F.col("cluster"))
        .count()
    )
    assert mism == 0

    # the probe still runs and returns full k over the re-centered index
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    assert len(ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()) == 10


def test_recenter_is_deterministic_across_partitionings(spark, tmp_path):
    emb = _emb(spark)
    idx1 = str(tmp_path / "a")
    idx2 = str(tmp_path / "b")
    ivf_build_index(emb, idx1, n_cells=8)
    ivf_build_index(emb.repartition(13), idx2, n_cells=8)
    ivf_recenter(spark, idx1)
    ivf_recenter(spark, idx2)
    c1 = sorted(
        (r["cell"], tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(idx1, "centroids")).collect()
    )
    c2 = sorted(
        (r["cell"], tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(idx2, "centroids")).collect()
    )
    assert c1 == c2


@pytest.mark.slow
def test_ivfpq_stream_insert_equals_batch_rebuild(spark, tmp_path):
    from esper_tv_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_probe_index,
    )
    from esper_tv_spark.streaming.ann import ivfpq_stream_insert

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)

    idx = str(tmp_path / "ivfpq_stream")
    ivfpq_build_index(base, idx, n_cells=16, m=8, k=16, dim=64)

    src = str(tmp_path / "tail_src")
    tail.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src)
    tail.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(src, mode="append")
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    q = ivfpq_stream_insert(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)

    idx_full = str(tmp_path / "ivfpq_full")
    ivfpq_build_index(emb, idx_full, n_cells=16, m=8, k=16, dim=64)

    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    got = [tuple(r) for r in ivfpq_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    want = [tuple(r) for r in ivfpq_probe_index(spark, idx_full, qv, 10, n_probe=3).collect()]
    assert got == want and len(got) == 10

    # stored (id, cell, codes) matches the full rebuild exactly
    a = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect()
    )
    b = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(idx_full, "cells")).collect()
    )
    assert a == b


@pytest.mark.slow
def test_ivfpq_residual_stream_insert_equals_batch_rebuild(spark, tmp_path):
    from esper_tv_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_probe_index,
    )
    from esper_tv_spark.streaming.ann import ivfpq_stream_insert

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)

    idx = str(tmp_path / "res_stream")
    ivfpq_build_index(base, idx, n_cells=16, m=8, k=16, dim=64, by_residual=True)

    src = str(tmp_path / "tail_src")
    tail.coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    q = ivfpq_stream_insert(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)

    idx_full = str(tmp_path / "res_full")
    ivfpq_build_index(emb, idx_full, n_cells=16, m=8, k=16, dim=64, by_residual=True)

    a = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect()
    )
    b = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(idx_full, "cells")).collect()
    )
    assert a == b

    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    got = [tuple(r) for r in ivfpq_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    want = [tuple(r) for r in ivfpq_probe_index(spark, idx_full, qv, 10, n_probe=3).collect()]
    assert got == want


def _generations(idx, table):
    """The hidden generation dirs of an index table, published or not."""
    return sorted(
        n for n in os.listdir(idx)
        if n.startswith(f".{table}.") and os.path.isdir(os.path.join(idx, n))
    )


def _crash_at_publish(monkeypatch, table):
    """Make `sidecar.publish` raise before it swaps `table` in: a crash
    after the new generation is staged, before it is published."""
    from esper_tv_spark.sources import sidecar

    real = sidecar.publish

    def publish(path, gen):
        if os.path.basename(path) == table:
            raise RuntimeError("simulated crash before publish")
        real(path, gen)

    monkeypatch.setattr(sidecar, "publish", publish)


def _snap(spark, idx):
    cents = sorted(
        (int(r["cell"]), tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(idx, "centroids")).collect()
    )
    cells = sorted(
        (int(r["id"]), int(r["cell"]))
        for r in spark.read.parquet(os.path.join(idx, "cells")).select("id", "cell").collect()
    )
    return cents, cells


def test_recenter_recovers_from_mid_swap_crash(spark, tmp_path, monkeypatch):
    """A recenter that dies after staging its generations and before
    publishing them leaves the index as it was: the staged dirs are
    invisible to probes, and the next recenter drops them and ends
    where an uninterrupted recenter ends."""
    emb = _emb(spark)
    idx, twin = str(tmp_path / "ivf_crash"), str(tmp_path / "ivf_twin")
    ivf_build_index(emb, idx, n_cells=8)
    ivf_build_index(emb, twin, n_cells=8)
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    want = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    before = _snap(spark, idx)
    published = {t: os.readlink(os.path.join(idx, t)) for t in ("cells", "centroids")}

    _crash_at_publish(monkeypatch, "cells")
    with pytest.raises(RuntimeError, match="simulated"):
        ivf_recenter(spark, idx)
    monkeypatch.undo()

    for table, gen in published.items():
        assert os.readlink(os.path.join(idx, table)) == gen
        assert len(_generations(idx, table)) == 2  # published + staged
    assert [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()] == want
    assert _snap(spark, idx) == before

    ivf_recenter(spark, idx)
    ivf_recenter(spark, twin)
    for table, gen in published.items():
        # the replaced generation stays for running readers; the staged
        # one is gone
        assert _generations(idx, table) == sorted(
            [gen, os.readlink(os.path.join(idx, table))]
        )
    assert _snap(spark, idx) == _snap(spark, twin)


def test_plain_dir_index_compacts_retires_and_probes_identically(spark, tmp_path):
    """An index written before generations has plain `cells/` and
    `centroids/` dirs.  It must probe, compact, purge and retire exactly
    like a published one; its first publish of each table moves the
    plain dir aside as the replaced generation."""
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).select("embedding").first()[0]]
    plain, published = str(tmp_path / "plain"), str(tmp_path / "published")
    for idx in (plain, published):
        ivf_build_index(emb, idx, n_cells=8)
    for table in ("cells", "centroids"):
        link = os.path.join(plain, table)
        gen = os.path.realpath(link)
        os.unlink(link)
        os.rename(gen, link)
        assert _generations(plain, table) == []
    victim = _victim_and_probe(spark, plain, qv)
    victim_ids = [
        int(r["id"])
        for r in spark.read.parquet(os.path.join(plain, "cells", f"cell={victim}"))
        .select("id").collect()
    ]

    def probe(idx):
        return [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]

    assert probe(plain) == probe(published)
    for idx in (plain, published):
        compact_posting_lists(spark, idx, min_fragments=1)
    assert probe(plain) == probe(published)
    assert os.path.islink(os.path.join(plain, "cells"))
    assert len(_generations(plain, "cells")) == 2
    for idx in (plain, published):
        ann_delete(spark, idx, victim_ids)
        stats = compact_posting_lists(spark, idx, purge=True, retire_empty_cells=True)
        assert stats["cells_retired"] == 1
    assert probe(plain) == probe(published)
    assert os.path.islink(os.path.join(plain, "centroids"))
    assert _snap(spark, plain) == _snap(spark, published)


def test_recenter_raises_when_nothing_to_recover(spark, tmp_path):
    """An index without a posting table has nothing to recenter: the
    opener refuses it before any work, instead of publishing empty
    tables."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf_gone")
    ivf_build_index(emb, idx, n_cells=8)
    os.unlink(os.path.join(idx, "cells"))
    with pytest.raises(ValueError, match="not a probeable"):
        ivf_recenter(spark, idx)
    assert os.readlink(os.path.join(idx, "centroids")) in _generations(idx, "centroids")


def test_flat_rebuild_over_recentered_two_level_index_drops_groups(spark, tmp_path):
    """A flat rebuild over a two-level index must remove its published
    `groups` table (a symlink, which rmtree would silently keep): probes
    pick the two-level path by its presence."""
    emb = _emb(spark)
    idx, flat = str(tmp_path / "was_hier"), str(tmp_path / "flat")
    ivf_build_index(emb, idx, n_cells=8, n_groups=2)
    ivf_recenter(spark, idx)
    assert os.path.islink(os.path.join(idx, "groups"))
    ivf_build_index(emb, idx, n_cells=8)
    ivf_build_index(emb, flat, n_cells=8)
    assert not os.path.lexists(os.path.join(idx, "groups"))
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    assert [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()] == [
        tuple(r) for r in ivf_probe_index(spark, flat, qv, 10, n_probe=3).collect()
    ]


def test_ivfpq_rebuild_crash_cannot_leave_mixed_generation(spark, tmp_path, monkeypatch):
    """An in-place rebuild over a COMPLETE index that crashes mid-build
    must leave an index that FAILS the 'meta.json + codebooks/_SUCCESS'
    completeness check — never old codebooks + new meta.  The new meta
    is written once every table is staged, so the crash point is the
    last publish, the sentinel's."""
    import json

    import pytest
    from esper_tv_spark.operators import similarity as sim

    emb = _emb(spark)
    idx = str(tmp_path / "ivfpq_rebuild")
    sim.ivfpq_build_index(emb, idx, n_cells=16, m=8, k=16, dim=64)
    sentinel = os.path.join(idx, "codebooks", "_SUCCESS")
    assert os.path.exists(sentinel) and os.path.exists(os.path.join(idx, "meta.json"))

    _crash_at_publish(monkeypatch, "codebooks")
    with pytest.raises(RuntimeError, match="simulated"):
        # a config flip (by_residual) — the dangerous rebuild case
        sim.ivfpq_build_index(emb, idx, n_cells=16, m=8, k=16, dim=64, by_residual=True)

    # the old generation was invalidated BEFORE the crash point: the
    # completeness check a probe-or-rebuild caller uses must now fail
    with open(os.path.join(idx, "meta.json")) as f:
        assert json.load(f)["by_residual"] is True
    complete = os.path.exists(sentinel) and os.path.exists(
        os.path.join(idx, "meta.json")
    )
    assert not complete


@pytest.mark.parametrize("kind", ["ivf", "ivfsq"])
def test_build_with_a_bad_vector_publishes_nothing(spark, tmp_path, kind):
    """A build over a corpus holding a null embedding raises the pass's
    ValueError before it publishes anything: an index already at the
    path keeps its tables, meta.json and sentinel, probes the same, and
    no staged generation is left beside it."""
    from esper_tv_spark.operators.similarity import ivfsq_build_index, ivfsq_probe_index

    emb = _emb(spark)
    build, probe = {
        "ivf": (
            lambda df, p: ivf_build_index(df, p, n_cells=8),
            lambda p, qv: ivf_probe_index(spark, p, qv, 10, n_probe=3),
        ),
        "ivfsq": (
            lambda df, p: ivfsq_build_index(df, p, n_cells=8, dim=64),
            lambda p, qv: ivfsq_probe_index(spark, p, qv, 10, n_probe=3),
        ),
    }[kind]
    idx = str(tmp_path / kind)
    build(emb.where("vec_id < 200"), idx)
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    want = [tuple(r) for r in probe(idx, qv).collect()]
    listing = sorted(os.listdir(idx))
    links = {t: os.readlink(os.path.join(idx, t)) for t in listing if os.path.islink(os.path.join(idx, t))}

    bad = emb.select(
        "vec_id",
        F.when(F.col("vec_id") == 250, F.lit(None)).otherwise(F.col("embedding")).alias("embedding"),
    )
    with pytest.raises(Exception, match="ValueError: _posting_pass: every vector must hold 64"):
        build(bad, idx)

    assert sorted(os.listdir(idx)) == listing
    assert {t: os.readlink(os.path.join(idx, t)) for t in links} == links
    assert [tuple(r) for r in probe(idx, qv).collect()] == want


@pytest.mark.slow
def test_ivfpq_opq_stream_insert_equals_batch_rebuild(spark, tmp_path):
    """OPQ indexes: stream inserts must rotate the micro-batch with the
    persisted rotation, keeping stream==batch bit-identity."""
    from esper_tv_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_probe_index,
        opq_train,
    )
    from esper_tv_spark.streaming.ann import ivfpq_stream_insert

    emb = _emb(spark)
    rot = opq_train(emb, m=8, k=16, dim=64, iters=3, sample_rows=512)
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)

    idx = str(tmp_path / "opq_stream")
    ivfpq_build_index(base, idx, n_cells=16, m=8, k=16, dim=64, opq_rotation=rot)

    src = str(tmp_path / "tail_src")
    tail.coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    q = ivfpq_stream_insert(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)

    idx_full = str(tmp_path / "opq_full")
    ivfpq_build_index(emb, idx_full, n_cells=16, m=8, k=16, dim=64, opq_rotation=rot)

    a = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect()
    )
    b = sorted(
        (r["id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(os.path.join(idx_full, "cells")).collect()
    )
    assert a == b

    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    got = [tuple(r) for r in ivfpq_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    want = [tuple(r) for r in ivfpq_probe_index(spark, idx_full, qv, 10, n_probe=3).collect()]
    assert got == want and len(got) == 10


def test_ivfsq_stream_insert_encodes_identically(spark, tmp_path):
    """IVF-SQ8 stream inserts: codes appended by the stream must be
    bit-identical to batch-encoding the same rows against the SAME
    store (frozen bounds + frozen centroids — bounds are a build-time
    property; out-of-range arrivals clamp, as production SQ does)."""
    from pyspark.sql import functions as PF

    from esper_tv_spark.operators.similarity import (
        _sq_bounds,
        _sq_encode_expr,
        ivfsq_build_index,
        ivfsq_probe_index,
    )
    from esper_tv_spark.streaming.ann import ivfsq_stream_insert

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)

    idx = str(tmp_path / "ivfsq_stream")
    ivfsq_build_index(base, idx, n_cells=16, dim=64)

    src = str(tmp_path / "tail_src")
    tail.coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    q = ivfsq_stream_insert(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)

    mn, mx = _sq_bounds(idx)
    v64 = PF.slice(PF.col("embedding").cast("array<double>"), 1, 64)
    want = {
        r["vec_id"]: tuple(r["codes"])
        for r in tail.select("vec_id", _sq_encode_expr(v64, mn, mx).alias("codes")).collect()
    }
    got = {
        r["id"]: tuple(r["codes"])
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect()
        if r["id"] >= 100
    }
    assert got == want and len(got) > 0

    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    assert len(ivfsq_probe_index(spark, idx, qv, 10, n_probe=3).collect()) == 10


def test_compaction_preserves_probe_results_and_collapses_fragments(spark, tmp_path):
    """Streaming inserts fragment the posting lists (one parquet file
    per touched cell per micro-batch); compact_posting_lists rewrites
    hot cells to ONE file each, hard-links already-compact cells across,
    and probe results are bit-identical before/after (compaction never
    changes content)."""
    from esper_tv_spark.streaming.ann import (
        compact_posting_lists,
        posting_fragment_census,
    )

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)
    idx = str(tmp_path / "ivf_compact")
    ivf_build_index(base, idx, n_cells=8)

    src = str(tmp_path / "tail_src")
    for i in range(3):
        tail.where(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            src, mode="append"
        )
    stream = file_stream(spark, src, tail.schema, max_files_per_trigger=1)
    q = ivf_stream_insert(stream, idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)

    before = posting_fragment_census(idx)
    assert max(before.values()) >= 2  # inserts really did fragment

    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    want = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    rows_want = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(idx, "cells"))
        .select("id", "cell")
        .collect()
    )

    stats = compact_posting_lists(spark, idx, min_fragments=2)
    after = posting_fragment_census(idx)
    assert max(after.values()) == 1
    assert stats["cells_compacted"] == sum(1 for n in before.values() if n >= 2)
    assert stats["fragments_before"] == sum(before.values())
    assert stats["fragments_after"] == len(after)

    got = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    assert got == want
    rows_got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(idx, "cells"))
        .select("id", "cell")
        .collect()
    )
    assert rows_got == rows_want
    # the published generation plus the one kept for running readers
    assert len(_generations(idx, "cells")) == 2

    # idempotent: a second run finds nothing hot and rewrites nothing
    stats2 = compact_posting_lists(spark, idx, min_fragments=2)
    assert stats2["cells_compacted"] == 0
    assert stats2["fragments_after"] == stats2["fragments_before"]


def test_compaction_recovers_from_mid_swap_crash(spark, tmp_path, monkeypatch):
    """A compaction that dies after staging its generation and before
    publishing it leaves the index as it was: the staged dir is
    invisible to probes, and the next publish of `cells` drops it."""
    from esper_tv_spark.streaming.ann import compact_posting_lists

    emb = _emb(spark)
    idx = str(tmp_path / "ivf_compact_crash")
    ivf_build_index(emb, idx, n_cells=8)
    cells = os.path.join(idx, "cells")
    n_rows = spark.read.parquet(cells).count()
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    want = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    published = os.readlink(cells)

    _crash_at_publish(monkeypatch, "cells")
    with pytest.raises(RuntimeError, match="simulated"):
        compact_posting_lists(spark, idx, min_fragments=1)
    monkeypatch.undo()
    staged = [g for g in _generations(idx, "cells") if g != published]
    assert len(staged) == 1 and os.readlink(cells) == published
    assert [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()] == want
    assert spark.read.parquet(cells).count() == n_rows

    compact_posting_lists(spark, idx, min_fragments=1)
    assert _generations(idx, "cells") == sorted([published, os.readlink(cells)])
    assert [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()] == want


def test_compaction_whose_write_raises_leaves_no_generation(spark, tmp_path, monkeypatch):
    """A compaction whose rewrite raises part-way — here while it
    hard-links the already-compact cells into the new generation, after
    the hot cells were written — deletes its partial generation: no
    hidden `.cells.<uuid>` dir is left beside `cells`, and probes return
    what they returned before."""
    from esper_tv_spark.streaming.ann import compact_posting_lists

    emb = _emb(spark)
    idx = str(tmp_path / "ivf_compact_raise")
    ivf_build_index(emb.where(F.col("vec_id") < 100), idx, n_cells=8)
    # five inserted vectors fragment at most five of the eight cells,
    # so the compaction rewrites some cells and links the rest across
    src = str(tmp_path / "tail_src")
    emb.where(F.col("vec_id").between(100, 104)).coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, emb.schema)
    ivf_stream_insert(stream, idx, str(tmp_path / "ckpt")).start().awaitTermination(180)
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    want = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    generations = _generations(idx, "cells")

    def link(*_args):
        raise RuntimeError("simulated failure in the rewrite")

    monkeypatch.setattr(os, "link", link)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_posting_lists(spark, idx, min_fragments=2)
    monkeypatch.undo()

    assert _generations(idx, "cells") == generations
    assert [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()] == want


@pytest.mark.slow
def test_compaction_works_on_pq_and_sq_code_layouts(spark, tmp_path):
    """Compaction is schema-agnostic: the same op compacts ivfpq and
    ivfsq posting lists (id + codes) with probe bit-identity."""
    from esper_tv_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_probe_index,
        ivfsq_build_index,
        ivfsq_probe_index,
    )
    from esper_tv_spark.streaming.ann import compact_posting_lists

    emb = _emb(spark)
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    for kind in ("pq", "sq"):
        idx = str(tmp_path / f"idx_{kind}")
        if kind == "pq":
            ivfpq_build_index(emb, idx, n_cells=8, m=8, k=16, dim=64)
            probe = lambda: ivfpq_probe_index(spark, idx, qv, 10, n_probe=3)
        else:
            ivfsq_build_index(emb, idx, n_cells=8, dim=64)
            probe = lambda: ivfsq_probe_index(spark, idx, qv, 10, n_probe=3)
        want = [tuple(r) for r in probe().collect()]
        stats = compact_posting_lists(spark, idx, min_fragments=1)  # rewrite all
        assert stats["cells_compacted"] == stats["cells_total"]
        assert [tuple(r) for r in probe().collect()] == want, kind


def test_serving_survives_insert_and_compaction_interleaving(spark, tmp_path):
    """The serving-maintenance loop closed end-to-end: build -> batch
    kNN join -> stream-insert -> join sees the new vectors -> compact ->
    join bit-identical to pre-compaction.  This is the lifecycle a
    production index actually lives (serve while ingesting, compact in
    maintenance windows) — each pair of steps is tested elsewhere; this
    guards the INTERLEAVING."""
    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_knn_join_index,
    )
    from esper_tv_spark.streaming.ann import (
        compact_posting_lists,
        posting_fragment_census,
    )

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") < 100)
    tail = emb.where(F.col("vec_id") >= 100)
    idx = str(tmp_path / "ivf_loop")
    ivf_build_index(base, idx, n_cells=8)
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def topk():
        out = ivf_knn_join_index(spark, idx, queries, 10, n_probe=3)
        got = {}
        for r in out.collect():
            got.setdefault(r["qid"], []).append((r["vec_id"], r["cosine_sim"]))
        return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in got.items()}

    before_insert = topk()
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    assert all(i in base_ids for rows in before_insert.values() for i, _ in rows)

    src = str(tmp_path / "tail_src")
    for i in range(2):
        tail.where(F.col("vec_id") % 2 == i).coalesce(1).write.parquet(src, mode="append")
    q = ivf_stream_insert(
        file_stream(spark, src, tail.schema, max_files_per_trigger=1),
        idx,
        str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)

    after_insert = topk()
    # the inserted tail must be visible to the serving join (the full
    # corpus contains nearer neighbors than the base alone for at least
    # one query on this fixture — assert the result CHANGED and that a
    # tail id appears)
    assert after_insert != before_insert
    assert any(
        i not in base_ids for rows in after_insert.values() for i, _ in rows
    )

    assert max(posting_fragment_census(idx).values()) >= 2
    compact_posting_lists(spark, idx, min_fragments=2)
    assert topk() == after_insert
    assert max(posting_fragment_census(idx).values()) == 1


# ---------------------------------------------------------- logical deletes


@pytest.mark.slow
def test_ann_delete_hides_ids_from_every_probe_path(spark, tmp_path):
    """Tombstoned ids must vanish from single probes AND batch joins on
    all three index layouts — the anti-join is applied at the posting
    scan, so every serving path inherits it.  Undeleted rows are
    untouched (the probe minus the deleted ids equals the pre-delete
    probe minus those same rows)."""
    from esper_tv_spark.operators.similarity import (
        ivf_knn_join_index,
        ivfpq_build_index,
        ivfpq_probe_index,
        ivfsq_build_index,
        ivfsq_probe_index,
    )
    from esper_tv_spark.streaming.ann import ann_delete

    emb = _emb(spark)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    cases = [
        (
            "ivf",
            lambda p: ivf_build_index(emb, p, n_cells=8),
            lambda p: ivf_probe_index(spark, p, qv, 10, n_probe=3),
        ),
        (
            "ivfpq",
            lambda p: ivfpq_build_index(emb, p, n_cells=8, m=8, k=16, dim=64),
            lambda p: ivfpq_probe_index(spark, p, qv, 10, n_probe=3),
        ),
        (
            "ivfsq",
            lambda p: ivfsq_build_index(emb, p, n_cells=8, dim=64),
            lambda p: ivfsq_probe_index(spark, p, qv, 10, n_probe=3),
        ),
    ]
    for name, build, probe in cases:
        idx = str(tmp_path / name)
        build(idx)
        before = [tuple(r) for r in probe(idx).collect()]
        victims = {int(before[0][0]), int(before[2][0])}
        ann_delete(spark, idx, sorted(victims))
        after = [tuple(r) for r in probe(idx).collect()]
        got_ids = {int(r[0]) for r in after}
        assert not (victims & got_ids), name
        # survivors keep their rows and order
        survivors = [r for r in before if int(r[0]) not in victims]
        assert after[: len(survivors)] == survivors, name

    # batch join path (ivf): per-query rows drop the tombstoned ids too
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = ivf_knn_join_index(spark, str(tmp_path / "ivf"), queries, 10, n_probe=3)
    got = {int(r["vec_id"]) for r in out.collect()}
    deleted_ivf = {
        int(r["id"])
        for r in spark.read.parquet(str(tmp_path / "ivf" / "tombstones")).collect()
    }
    assert not (deleted_ivf & got)


def test_purge_applies_tombstones_physically_and_retires_them(spark, tmp_path):
    """compact_posting_lists(purge=True) must rewrite every cell with
    the tombstoned rows dropped, remove the tombstone table, and leave
    probe results bit-identical to the logical-delete view."""
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = str(tmp_path / "ivf_purge")
    ivf_build_index(emb, idx, n_cells=8)
    n_before = spark.read.parquet(os.path.join(idx, "cells")).count()
    ann_delete(spark, idx, [0, 7, 13])
    logical = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    stats = compact_posting_lists(spark, idx, purge=True)
    assert stats["purged_ids"] == 3
    assert not os.path.exists(os.path.join(idx, "tombstones"))
    assert spark.read.parquet(os.path.join(idx, "cells")).count() == n_before - 3
    physical = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    assert physical == logical
    # purge is idempotent: a second purge with no tombstones is a
    # fragment-only compaction
    stats2 = compact_posting_lists(spark, idx, purge=True)
    assert "purged_ids" not in stats2


def test_recenter_applies_and_retires_tombstones(spark, tmp_path):
    """ivf_recenter is a full rewrite: tombstoned vectors must neither
    survive in the rewritten posting lists nor contribute to the new
    centroid means — recentering after a delete equals recentering an
    index that never contained the deleted rows."""
    from esper_tv_spark.streaming.ann import ann_delete

    emb = _emb(spark)
    with_del = str(tmp_path / "with_del")
    never_had = str(tmp_path / "never_had")
    ivf_build_index(emb, with_del, n_cells=8)
    ann_delete(spark, with_del, [50, 60])
    ivf_recenter(spark, with_del)
    assert not os.path.exists(os.path.join(with_del, "tombstones"))

    ivf_build_index(emb, never_had, n_cells=8)
    # drop the same rows physically, then recenter — the two indexes must
    # agree on centroids AND postings
    import shutil

    from esper_tv_spark.streaming.ann import compact_posting_lists

    ann_delete(spark, never_had, [50, 60])
    compact_posting_lists(spark, never_had, purge=True)
    ivf_recenter(spark, never_had)

    assert _snap(spark, with_del) == _snap(spark, never_had)


def test_ann_delete_validation(spark, tmp_path):
    import pytest

    from esper_tv_spark.streaming.ann import ann_delete

    emb = _emb(spark)
    idx = str(tmp_path / "ivf_val")
    ivf_build_index(emb, idx, n_cells=8)
    with pytest.raises(ValueError, match="empty"):
        ann_delete(spark, idx, [])
    for bad in ([1.5], [True], ["x"]):
        with pytest.raises(ValueError, match="not an int"):
            ann_delete(spark, idx, bad)


# ---------------------------------------------------------------------------
# census-driven centroid retirement (_retire_empty_cells) — r9
# ---------------------------------------------------------------------------


def _victim_and_probe(spark, idx, qv):
    from esper_tv_spark.operators import similarity as sim

    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    pairs, _cells, _cv = sim._rank_probe_cells(cents, [0], [qv], 1, 6)
    return int(pairs[0][1])


def test_retirement_drops_dead_centroid_and_frees_probe_slot(spark, tmp_path):
    """Emptying the query's own top-1 cell and retiring it must (a)
    remove that centroid row, (b) change the probe result — the freed
    top-n_probe slot admits the NEXT live cell's candidates — and (c)
    equal a probe whose ranking simply never saw the dead cell."""
    from esper_tv_spark.operators import similarity as sim
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).select("embedding").first()[0]]
    idx = str(tmp_path / "ret")
    ivf_build_index(emb, idx, n_cells=8)
    victim = _victim_and_probe(spark, idx, qv)
    victim_ids = [
        int(r["id"])
        for r in spark.read.parquet(os.path.join(idx, "cells", f"cell={victim}"))
        .select("id").collect()
    ]
    before = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    ann_delete(spark, idx, victim_ids)
    stats = compact_posting_lists(spark, idx, purge=True, retire_empty_cells=True)
    assert stats["cells_retired"] == 1
    remaining = {
        int(r["cell"])
        for r in spark.read.parquet(os.path.join(idx, "centroids")).collect()
    }
    assert victim not in remaining and len(remaining) == 7
    after = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    assert after != before
    # oracle: rank over the surviving centroid table directly
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    _pairs, cells, _cv = sim._rank_probe_cells(cents, [0], [qv], 3, 6)
    assert victim not in cells
    # second pass retires nothing (idempotent)
    assert compact_posting_lists(spark, idx, retire_empty_cells=True)["cells_retired"] == 0


@pytest.mark.slow
def test_retirement_preserves_two_level_layout(spark, tmp_path):
    """Retiring a cell of a TWO-LEVEL index must keep the grp partition
    column (probes partition-prune the centroid read) and leave groups/
    untouched — level-1 centers are quantizer structure, not corpus
    state."""
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).select("embedding").first()[0]]
    idx = str(tmp_path / "ret_hier")
    ivf_build_index(emb, idx, n_cells=16, n_groups=4)
    groups_before = sorted(
        (int(r["grp"]), list(r["gv"]))
        for r in spark.read.parquet(os.path.join(idx, "groups")).collect()
    )
    victim = _victim_and_probe(spark, idx, qv)
    victim_ids = [
        int(r["id"])
        for r in spark.read.parquet(os.path.join(idx, "cells", f"cell={victim}"))
        .select("id").collect()
    ]
    ann_delete(spark, idx, victim_ids)
    stats = compact_posting_lists(spark, idx, purge=True, retire_empty_cells=True)
    assert stats["cells_retired"] == 1
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    assert "grp" in cents.columns
    assert victim not in {int(r["cell"]) for r in cents.collect()}
    groups_after = sorted(
        (int(r["grp"]), list(r["gv"]))
        for r in spark.read.parquet(os.path.join(idx, "groups")).collect()
    )
    assert groups_after == groups_before
    # hier probe still answers at full coverage
    assert len(ivf_probe_index(spark, idx, qv, 10, n_probe=3, n_probe_groups=4).collect()) == 10


def test_retirement_refuses_fully_dead_index(spark, tmp_path):
    """An index whose every cell is empty must raise, not write an empty
    centroid table (probes would rank zero cells silently)."""
    import pytest

    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark).where(F.col("vec_id") < 50)
    idx = str(tmp_path / "dead")
    ivf_build_index(emb, idx, n_cells=4)
    all_ids = [int(r["vec_id"]) for r in emb.select("vec_id").collect()]
    ann_delete(spark, idx, all_ids)
    with pytest.raises(ValueError, match="every cell"):
        compact_posting_lists(spark, idx, purge=True, retire_empty_cells=True)


def test_retirement_recovers_from_mid_swap_crash(spark, tmp_path, monkeypatch):
    """A retirement that dies before publishing its centroids leaves the
    dead centroid ranked (correct, just wasteful) and its staged
    generation unpublished; the next retirement pass retires the cell
    and drops the staged dir."""
    from esper_tv_spark.streaming.ann import (
        ann_delete,
        compact_posting_lists,
        _retire_empty_cells,
    )

    emb = _emb(spark)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).select("embedding").first()[0]]
    idx = str(tmp_path / "crash")
    ivf_build_index(emb, idx, n_cells=8)
    victim = _victim_and_probe(spark, idx, qv)
    victim_ids = [
        int(r["id"])
        for r in spark.read.parquet(os.path.join(idx, "cells", f"cell={victim}"))
        .select("id").collect()
    ]
    cents = os.path.join(idx, "centroids")
    published = os.readlink(cents)
    ann_delete(spark, idx, victim_ids)
    _crash_at_publish(monkeypatch, "centroids")
    with pytest.raises(RuntimeError, match="simulated"):
        compact_posting_lists(spark, idx, purge=True, retire_empty_cells=True)
    monkeypatch.undo()
    assert os.readlink(cents) == published and len(_generations(idx, "centroids")) == 2
    assert _victim_and_probe(spark, idx, qv) == victim
    got = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    assert got and not set(victim_ids) & {r[0] for r in got}

    assert _retire_empty_cells(spark, idx) == 1
    assert _generations(idx, "centroids") == sorted([published, os.readlink(cents)])
    remaining = {int(r["cell"]) for r in spark.read.parquet(cents).collect()}
    assert victim not in remaining and len(remaining) == 7


def test_retirement_with_nothing_to_retire_runs_no_spark_job(spark, tmp_path, count_jobs):
    """The census and the centroid ids are read on the driver: a pass
    that finds no dead cell launches no Spark job."""
    from esper_tv_spark.streaming.ann import _retire_empty_cells

    idx = str(tmp_path / "live")
    ivf_build_index(_emb(spark), idx, n_cells=8)
    assert count_jobs(lambda: _retire_empty_cells(spark, idx)) == (0, 0)


@pytest.mark.parametrize("rewrite", ["purge", "recenter"])
def test_ids_deleted_during_a_rewrite_stay_hidden(spark, tmp_path, monkeypatch, rewrite):
    """An `ann_delete` that lands while a purge or recenter rewrites the
    index (after the rewrite read the tombstones, before it publishes)
    was never applied to the new generation: its tombstone must outlive
    the rewrite and keep hiding the id."""
    from esper_tv_spark.sources import sidecar
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark)
    idx = str(tmp_path / rewrite)
    ivf_build_index(emb, idx, n_cells=8)
    ann_delete(spark, idx, [50])
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    late = 3  # the query's own vector: its top answer until deleted
    assert ivf_probe_index(spark, idx, qv, 10, n_probe=3).first()[0] == late
    real = sidecar.publish

    def publish(table, gen):
        if late not in sidecar.tombstone_ids(idx):
            ann_delete(spark, idx, [late])
        real(table, gen)

    monkeypatch.setattr(sidecar, "publish", publish)
    if rewrite == "purge":
        assert compact_posting_lists(spark, idx, purge=True)["purged_ids"] == 1
    else:
        ivf_recenter(spark, idx)
    monkeypatch.undo()
    assert sidecar.tombstone_ids(idx) == [late]
    got = [r[0] for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
    assert len(got) == 10 and late not in got and 50 not in got


def test_probes_never_fail_while_maintenance_publishes(spark, tmp_path):
    """Readers running beside maintenance always get an answer.  A thread
    probes (`ivf_probe_index`) and joins (`ivf_knn_join_index`) in a loop
    while 6 delete-and-purge cycles, a retirement pass and 3 recenters
    publish new generations under it.  No read may raise, and every read
    that started before the first recenter returns the pre-loop answer:
    the deletes name absent ids, so purges and retirement change no
    content."""
    import threading

    from esper_tv_spark.operators.similarity import ivf_knn_join_index
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    emb = _emb(spark)
    idx = str(tmp_path / "ivf_race")
    ivf_build_index(emb, idx, n_cells=8)
    qv = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def answers():
        probe = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
        join = ivf_knn_join_index(spark, idx, queries, 10, n_probe=3)
        return probe, sorted(tuple(r) for r in join.collect())

    want = answers()
    lock = threading.Lock()
    state = {"compare": True, "stop": False}
    reads, errors, mismatches = [], [], []

    def reader():
        while not state["stop"]:
            with lock:  # a phase change waits for the read in flight
                compare = state["compare"]
                try:
                    got = answers()
                except Exception as e:  # noqa: BLE001 — every failure counts
                    errors.append(repr(e)[:300])
                    continue
            reads.append(compare)
            if compare and got != want:
                mismatches.append(got)

    thread = threading.Thread(target=reader)
    thread.start()
    try:
        for i in range(6):
            ann_delete(spark, idx, [10**9 + i])
            compact_posting_lists(spark, idx, purge=True)
        assert compact_posting_lists(spark, idx, retire_empty_cells=True)["cells_retired"] == 0
        with lock:
            state["compare"] = False
        for _ in range(3):
            ivf_recenter(spark, idx)
    finally:
        state["stop"] = True
        thread.join(timeout=300)
    assert not thread.is_alive()
    assert errors == []
    assert mismatches == []
    assert reads.count(True) >= 3 and False in reads


def test_replaced_generations_outlive_later_publishes(tmp_path):
    """A replaced generation stays for `RETAIN_S` seconds however many
    publishes follow, so a reader that resolved it keeps its files
    through back-to-back maintenance.  One replaced longer ago goes at
    the next publish, and one staged but never published goes at once."""
    import time

    from esper_tv_spark.sources import sidecar

    table = str(tmp_path / "cells")

    def staged():
        gen = sidecar.new_generation(table)
        os.makedirs(gen)
        open(os.path.join(gen, "part-0.parquet"), "w").close()
        return os.path.basename(gen)

    published = []
    for _ in range(3):
        published.append(staged())
        sidecar.publish(table, str(tmp_path / published[-1]))
    a, b, c = published
    assert _generations(str(tmp_path), "cells") == sorted([a, b, c])
    assert os.readlink(table) == c

    old = time.time() - sidecar.RETAIN_S - 1
    os.utime(os.path.join(tmp_path, a, sidecar.RETIRED), (old, old))
    crashed, d = staged(), staged()
    sidecar.publish(table, str(tmp_path / d))
    assert _generations(str(tmp_path), "cells") == sorted([b, c, d])
    assert os.readlink(table) == d and crashed not in os.listdir(tmp_path)


# ---------------------------------------------------------------------------
# the one-pass insert body (`similarity._posting_pass`)
# ---------------------------------------------------------------------------


def _unit_vectors(spark, n, seed=7):
    """perfbench's embedding shape: float32 64-dim unit vectors."""
    import numpy as np

    v = np.random.default_rng(seed).standard_normal((n, 64)).astype(np.float32)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<float>",
    )


def _expression_rows(spark, vecs, cents_dir):
    """The reference posting rows: `lloyd_assign` against the stored
    centroids, `v` and `norm` as the expression build stores them."""
    from esper_tv_spark.operators.similarity import dot
    from esper_tv_spark.sources import sidecar

    cents = sidecar.declared_parquet(spark, cents_dir).select(
        F.col("cell").alias("cluster"), F.col("cv").alias("cvec")
    )
    v = F.col("embedding").cast("array<double>")
    rows = (
        lloyd_assign(vecs, centroids=cents)
        .join(vecs, "vec_id")
        .select("vec_id", "cluster", v.alias("v"), F.sqrt(dot(v, v)).alias("norm"))
        .collect()
    )
    return sorted((r[0], r[1], tuple(r[2]), r[3]) for r in rows)


def _pass_rows(vecs, cents_dir, **kw):
    from esper_tv_spark.operators.similarity import _posting_pass
    from esper_tv_spark.sources.sidecar import sidecar_rows

    rows = _posting_pass(vecs, sidecar_rows(cents_dir, ["cell", "cv"]), **kw).collect()
    return sorted(tuple(tuple(x) if isinstance(x, list) else x for x in r) for r in rows)


def test_spark_round_matches_f_round_near_midpoints(spark):
    """`_spark_round` is F.round bit for bit on doubles a few ulps from a
    6-dp midpoint, where `_round_half_away`'s scaled floor can differ —
    and that scaled floor is what DuckDB's round() computes."""
    import duckdb
    import numpy as np

    from esper_tv_spark.operators.similarity import _round_half_away, _spark_round

    k = np.random.default_rng(3).integers(0, 4_000_000, 1500)
    mid = (k + 0.5) / 1e6
    x = np.concatenate([np.nextafter(mid, 0), mid, np.nextafter(mid, 10), -mid])
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(x)], "i long, x double")
    want = np.array([r[1] for r in sorted(df.select("i", F.round("x", 6)).collect())])
    assert np.array_equal(_spark_round(x, 6), want)
    assert not np.array_equal(_round_half_away(x, 6), want)
    # DuckDB's round() — the oracles' — is `_round_half_away`'s rule,
    # not Spark's
    duck = np.array(
        duckdb.execute("SELECT list_transform(?::DOUBLE[], v -> round(v, 6))", [x.tolist()])
        .fetchone()[0]
    )
    assert np.array_equal(duck, _round_half_away(x, 6))
    assert not np.array_equal(duck, want)


@pytest.mark.parametrize("n_groups", [None, 4])
def test_posting_pass_matches_expression_assignment(spark, tmp_path, n_groups):
    """Cells, vectors and norms of the one-pass body are bit-identical to
    `lloyd_assign` + `sqrt(dot(v, v))`, on a flat index and on a
    two-level index's grp-partitioned centroids."""
    vecs = _unit_vectors(spark, 600)
    idx = str(tmp_path / "idx")
    ivf_build_index(vecs.where("vec_id < 200"), idx, n_cells=16, n_groups=n_groups)
    cents = os.path.join(idx, "centroids")
    assert _pass_rows(vecs, cents) == _expression_rows(spark, vecs, cents)


def test_posting_pass_breaks_ties_to_the_smaller_cell(spark, tmp_path):
    """Equidistant centroids: the smaller cell wins, whatever the table
    order, as lloyd_assign's packed rank decides."""
    e = [[1.0 if j == i else 0.0 for j in range(4)] for i in range(4)]
    cents = str(tmp_path / "centroids")
    spark.createDataFrame(
        [(9, e[0]), (2, [-x for x in e[0]]), (5, e[1]), (3, [-x for x in e[1]])],
        "cell int, cv array<double>",
    ).write.parquet(cents)
    vecs = spark.createDataFrame(
        [(0, e[2]), (1, e[3]), (2, [0.5, 0.5, 0.5, 0.5]), (3, [0.0, 0.25, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = _pass_rows(vecs, cents)
    assert [r[1] for r in got] == [2, 2, 5, 5]
    assert got == _expression_rows(spark, vecs, cents)


def test_posting_pass_sq_codes_match_the_expression_encode(spark, tmp_path):
    """SQ8 codes of the one-pass body equal `_sq_encode_expr`'s against
    the same bounds — out-of-range coordinates clamp and a zero-range
    dimension codes 0 — and the cells equal lloyd_assign's."""
    from esper_tv_spark.operators.similarity import _sq_encode_expr

    vecs = _unit_vectors(spark, 400)
    idx = str(tmp_path / "idx")
    ivf_build_index(vecs.where("vec_id < 100"), idx, n_cells=16)
    cents = os.path.join(idx, "centroids")
    mn = [-0.2 + 0.003 * j for j in range(64)]
    mx = [0.25 - 0.002 * j for j in range(64)]
    mx[5] = mn[5]
    v64 = F.col("embedding").cast("array<double>")
    want = sorted(
        (r[0], r[1], tuple(r[2]))
        for r in lloyd_assign(vecs, centroids=spark.read.parquet(cents).select(
            F.col("cell").alias("cluster"), F.col("cv").alias("cvec")))
        .join(vecs.select("vec_id", _sq_encode_expr(v64, mn, mx).alias("codes")), "vec_id")
        .collect()
    )
    got = _pass_rows(vecs, cents, sq_bounds=(mn, mx))
    assert got == want
    assert {c for r in got for c in r[2]} >= {0, 255}


@pytest.mark.parametrize(
    "vec, error",
    [
        ([3000.0] * 4, "packed range"),
        (None, "every vector must hold 4 non-null values"),
        ([1.0, 0.0, 0.0], "every vector must hold 4 non-null values"),
        ([1.0, None, 0.0, 0.0], "every vector must hold 4 non-null values"),
    ],
    ids=["past_packed_range", "null", "short", "null_element"],
)
def test_posting_pass_raises_on_a_bad_vector(spark, tmp_path, vec, error):
    """A squared distance past the 42-bit packed range fails loudly, as
    lloyd_assign's raise_error does — never a silent misassignment.  A
    null embedding, one shorter than the centroids or one with a null
    element fails too (and so the micro-batch), rather than landing
    with a null cell."""
    from esper_tv_spark.operators.similarity import _posting_pass

    cents = [{"cell": 0, "cv": [1.0, 0.0, 0.0, 0.0]}, {"cell": 1, "cv": [0.0, 1.0, 0.0, 0.0]}]
    vecs = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0]), (1, vec)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match=error):
        _posting_pass(vecs, cents).collect()


def _insert_body(monkeypatch, spark, stream_insert, idx, src, schema, ckpt):
    """The foreachBatch function a `*_stream_insert` registers, to call
    on a plain DataFrame as Spark calls it on each micro-batch."""
    from pyspark.sql.streaming import DataStreamWriter

    bodies = []

    def capture(self, fn):
        bodies.append(fn)
        return self

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", capture)
    stream_insert(file_stream(spark, src, schema), idx, ckpt)
    (body,) = bodies
    return body


def test_ivf_insert_batch_runs_one_spark_job(spark, tmp_path, monkeypatch, count_jobs):
    """An IVF micro-batch body runs one Spark job, its write: the
    centroids are read on the driver, the assignment needs no
    empty-batch probe, no broadcast and no join."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb.where(F.col("vec_id") < 100), idx, n_cells=16)
    src = tmp_path / "src"
    src.mkdir()
    body = _insert_body(
        monkeypatch, spark, ivf_stream_insert, idx, str(src), emb.schema,
        str(tmp_path / "ckpt"),
    )
    batch = emb.where(F.col("vec_id") >= 100)
    assert count_jobs(lambda: body(batch, 0)) == (None, 1)
    assert spark.read.parquet(os.path.join(idx, "cells")).count() == emb.count()


@pytest.mark.parametrize("variant", ["raw", "residual", "opq"])
def test_ivfpq_insert_batch_runs_one_spark_job(spark, tmp_path, monkeypatch, count_jobs, variant):
    """An IVF-PQ micro-batch body runs one Spark job, its write, on a
    raw, a residual and an OPQ index: centroids, codebooks, meta and
    rotation are read on the driver, and the rotation, cell, residual
    and codes come from one pass (the expression chain ran 10)."""
    from esper_tv_spark.operators.similarity import ivfpq_build_index, opq_train
    from esper_tv_spark.streaming.ann import ivfpq_stream_insert

    emb = _emb(spark)
    kw = {
        "raw": {},
        "residual": {"by_residual": True},
        "opq": {"opq_rotation": opq_train(emb, m=8, k=16, dim=64, iters=1, sample_rows=128)},
    }[variant]
    idx = str(tmp_path / variant)
    ivfpq_build_index(emb.where(F.col("vec_id") < 100), idx, n_cells=16, m=8, k=16, dim=64, **kw)
    src = tmp_path / "src"
    src.mkdir()
    body = _insert_body(
        monkeypatch, spark, ivfpq_stream_insert, idx, str(src), emb.schema,
        str(tmp_path / "ckpt"),
    )
    batch = emb.where(F.col("vec_id") >= 100)
    assert count_jobs(lambda: body(batch, 0)) == (None, 1)
    assert spark.read.parquet(os.path.join(idx, "cells")).count() == emb.count()


def _posting_files(idx):
    cells = os.path.realpath(os.path.join(idx, "cells"))
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(cells)
        for f in files
        if f.endswith(".parquet")
    )


@pytest.mark.parametrize("layout", ["ivf", "ivfsq", "ivfpq"])
def test_empty_micro_batch_appends_no_posting_file(spark, tmp_path, layout):
    """A micro-batch with no rows (a new but empty source file) writes
    no posting file into any index layout."""
    from esper_tv_spark.operators.similarity import ivfpq_build_index, ivfsq_build_index
    from esper_tv_spark.streaming.ann import (
        ivfpq_stream_insert,
        ivfsq_stream_insert,
        posting_fragment_census,
    )

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") < 100)
    idx = str(tmp_path / layout)
    build, insert = {
        "ivf": (lambda: ivf_build_index(base, idx, n_cells=8), ivf_stream_insert),
        "ivfsq": (lambda: ivfsq_build_index(base, idx, n_cells=8, dim=64), ivfsq_stream_insert),
        "ivfpq": (
            lambda: ivfpq_build_index(base, idx, n_cells=8, m=8, k=16, dim=64),
            ivfpq_stream_insert,
        ),
    }[layout]
    build()
    files, census = _posting_files(idx), posting_fragment_census(idx)

    src = str(tmp_path / "src")
    emb.limit(0).coalesce(1).write.parquet(src)
    q = insert(file_stream(spark, src, emb.schema), idx, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)
    assert any("addBatch" in p["durationMs"] for p in q.recentProgress)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 0
    assert _posting_files(idx) == files
    assert posting_fragment_census(idx) == census
