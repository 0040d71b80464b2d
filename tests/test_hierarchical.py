"""Two-level (hierarchical) coarse quantizer: build/probe parity vs the
flat layout, per-query group restriction in the batch joins, partition-
pruned centroid I/O, crash-safety, and maintenance (recenter / stream
insert) over grouped indexes.

Why the layer exists (see similarity.recommended_groups): at
n_cells = 4*sqrt(n), a 2e9-vector corpus carries ~180k coarse centroids —
a table that stops broadcasting and a per-probe ranking that stops being
one tiny driver action.  Level 1 groups the centroids under
sqrt(n_cells) centers; probes rank groups first, then read only the
winning groups' centroid PARTITIONS.  Reference scale pattern:
face_embeddings.py:74-96 (a frozen store probed repeatedly)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as m
from esper_tv_spark.operators import similarity as sim
from esper_tv_spark.plans import count_shuffles, physical_plan

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


def _rows(df):
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------- parity


@pytest.mark.slow
def test_full_group_coverage_is_bit_identical_to_flat(spark, emb, qv, tmp_path):
    """n_probe_groups = n_groups keeps every centroid a candidate, so the
    two-level probe must be BIT-identical to the flat index — posting
    lists, assignment, and rerank arithmetic are shared; only the
    centroid layout differs.  Asserted for every index family."""
    cases = [
        (
            "ivf",
            lambda p, **kw: sim.ivf_build_index(emb, p, n_cells=16, **kw),
            lambda p, **kw: sim.ivf_probe_index(spark, p, qv, 10, n_probe=3, **kw),
        ),
        (
            "ivfpq_res",
            lambda p, **kw: sim.ivfpq_build_index(
                emb, p, n_cells=16, m=8, k=16, dim=64, by_residual=True, **kw
            ),
            lambda p, **kw: sim.ivfpq_probe_index(spark, p, qv, 10, n_probe=3, **kw),
        ),
        (
            "ivfsq",
            lambda p, **kw: sim.ivfsq_build_index(emb, p, n_cells=16, dim=64, **kw),
            lambda p, **kw: sim.ivfsq_probe_index(spark, p, qv, 10, n_probe=3, **kw),
        ),
    ]
    for name, build, probe in cases:
        flat, hier = str(tmp_path / f"{name}_flat"), str(tmp_path / f"{name}_hier")
        build(flat)
        build(hier, n_groups=4)
        assert os.path.exists(os.path.join(hier, "groups", "_SUCCESS")), name
        assert _rows(probe(hier, n_probe_groups=4)) == _rows(probe(flat)), name


def test_group_pruning_binds_and_matches_restricted_oracle(spark, emb, qv, tmp_path):
    """With n_probe_groups=1 the pruning must actually CHANGE the probed
    cell set on this fixture (flat top-3 {0,12,3} vs within-group
    {0,12,13} — pinned, the data is static), and the pruned ranking must
    equal a numpy replay of 'rank only the winning group's cells'."""
    import numpy as np

    hier = str(tmp_path / "hier")
    sim.ivf_build_index(emb, hier, n_cells=16, n_groups=4)
    cents, allowed = sim._probe_centroids(hier, [0], [qv], 1, 6)
    pairs, _cells, _cv = sim._rank_probe_cells_blas(cents, [0], [qv], 3, 6, allowed=allowed)
    hier3 = [c for _q, c in pairs]

    all_rows = spark.read.parquet(os.path.join(hier, "centroids")).collect()
    q = np.asarray(qv, dtype=np.float64)

    def cos(r):
        v = np.asarray([float(x) for x in r["cv"]], dtype=np.float64)
        return round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6)

    flat3 = [r["cell"] for r in sorted(all_rows, key=lambda r: (-cos(r), r["cell"]))][:3]
    assert set(flat3) != set(hier3), (flat3, hier3)

    # numpy replay: group centers = cells 0..3's centroids; rank groups,
    # keep only the winner's cells, re-rank
    gv = {r["cell"]: r for r in all_rows if r["cell"] < 4}
    gbest = sorted(gv, key=lambda g: (-cos(gv[g]), g))[0]
    grp_of = {int(r["cell"]): int(r["grp"]) for r in all_rows}
    want = [
        r["cell"]
        for r in sorted(
            (r for r in all_rows if grp_of[int(r["cell"])] == gbest),
            key=lambda r: (-cos(r), r["cell"]),
        )
    ][:3]
    assert hier3 == want


@pytest.mark.slow
def test_batch_joins_match_single_probes_on_pruned_hier(spark, emb, rows_df, tmp_path):
    """Per-query group restriction: a 3-query batch over a two-level
    index must return, per query, exactly the single probe's rows — even
    though the batch's centroid scan is pruned to the UNION of all
    queries' groups (without the per-query mask a query could rank
    another query's cells).  On those same pruned rows the BLAS ranker
    the joins use equals the expression reference."""
    qrows = emb.where(F.col("vec_id").isin([0, 7, 13])).select(
        "vec_id", "embedding"
    ).collect()
    qmap = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows}
    qdf = spark.createDataFrame(
        [(i, v) for i, v in qmap.items()], "qid long, qvec array<double>"
    )
    cases = [
        (
            "ivf",
            lambda p: sim.ivf_build_index(emb, p, n_cells=16, n_groups=4),
            lambda p, v: sim.ivf_probe_index(
                spark, p, v, 5, n_probe=3, n_probe_groups=2
            ),
            lambda p: sim.ivf_knn_join_index(
                spark, p, qdf, 5, n_probe=3, n_probe_groups=2
            ),
        ),
        (
            "ivfpq_res",
            lambda p: sim.ivfpq_build_index(
                emb, p, n_cells=16, m=8, k=16, dim=64, by_residual=True, n_groups=4
            ),
            lambda p, v: sim.ivfpq_probe_index(
                spark, p, v, 5, n_probe=3, n_probe_groups=2
            ),
            lambda p: sim.ivfpq_knn_join_index(
                spark, p, qdf, 5, n_probe=3, n_probe_groups=2
            ),
        ),
        (
            "ivfsq",
            lambda p: sim.ivfsq_build_index(emb, p, n_cells=16, dim=64, n_groups=4),
            lambda p, v: sim.ivfsq_probe_index(
                spark, p, v, 5, n_probe=3, n_probe_groups=2
            ),
            lambda p: sim.ivfsq_knn_join_index(
                spark, p, qdf, 5, n_probe=3, n_probe_groups=2
            ),
        ),
    ]
    for name, build, probe, join in cases:
        idx = str(tmp_path / name)
        build(idx)
        got = join(idx)
        for qid, v in qmap.items():
            batch_q = _rows(got.where(F.col("qid") == qid).drop("qid"))
            assert batch_q == _rows(probe(idx, v)), (name, qid)
        qids, qvecs = list(qmap), list(qmap.values())
        cents, allowed = sim._probe_centroids(idx, qids, qvecs, 2, 6)
        cents_df = rows_df(cents, "cell long, cv array<double>, grp long")
        assert sim._rank_probe_cells_blas(
            cents, qids, qvecs, 3, 6, allowed=allowed
        ) == sim._rank_probe_cells(cents_df, qids, qvecs, 3, 6, allowed=allowed), name


# ------------------------------------------------------------ plan shape


def test_hier_centroid_read_is_partition_pruned(spark, emb, tmp_path):
    """The winning-group centroid read must keep ONLY the winning
    groups' `grp=<g>` partitions — that is the point of the layer: at
    180k centroids the ranking reads sqrt-of-the-table, not the table."""
    hier = str(tmp_path / "hier")
    sim.ivf_build_index(emb, hier, n_cells=16, n_groups=4)
    cents, allowed = sim._probe_centroids(hier, [0], [
        [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    ], 2, 6)
    assert allowed is not None and len(allowed[0]) <= 2
    every = spark.read.parquet(os.path.join(hier, "centroids")).collect()
    kept = sorted(r["cell"] for r in every if r["grp"] in allowed[0])
    assert sorted(r["cell"] for r in cents) == kept
    assert {r["grp"] for r in cents} == allowed[0] and len(kept) < len(every)


def test_q100_plan_keeps_flat_probe_invariants(spark):
    """The contract query's final posting scan keeps q80's plan shape:
    partition-pruned on cell, no join, ≤2 exchanges — the extra level
    adds driver actions, never plan nodes."""
    df = m.queries()["q100_hier_ivf_ann"](spark, SF)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert count_shuffles(df) <= 2


# ------------------------------------------------------- validation / fail-closed


def test_resolve_n_groups_validation():
    assert sim._resolve_n_groups(16, None) is None
    assert sim._resolve_n_groups(16, "auto") == 4
    assert sim._resolve_n_groups(1024, "auto") == 32
    assert sim.recommended_groups(180_000) == 424
    with pytest.raises(ValueError, match="exceeds n_cells"):
        sim._resolve_n_groups(16, 17)
    for bad in (0, -1, 2.5, True, "many"):
        with pytest.raises(ValueError):
            sim._resolve_n_groups(16, bad)


def test_probe_fails_closed_on_partial_groups(spark, emb, qv, tmp_path):
    """groups/ without _SUCCESS = a crashed build: probing must raise,
    not silently mis-prune (nor silently fall back to flat — the
    centroid table is grp-partitioned and the caller asked for a layout
    the index does not coherently have)."""
    hier = str(tmp_path / "hier")
    sim.ivf_build_index(emb, hier, n_cells=16, n_groups=4)
    os.remove(os.path.join(hier, "groups", "_SUCCESS"))
    with pytest.raises(ValueError, match="_SUCCESS"):
        sim.ivf_probe_index(spark, hier, qv, 5, n_probe=3, n_probe_groups=2).collect()


def test_flat_rebuild_drops_stale_groups(spark, emb, qv, tmp_path):
    """Rebuilding an index FLAT over a previously two-level path must
    remove groups/ — stale level-1 centers over flat centroids would
    mis-prune every probe."""
    idx = str(tmp_path / "idx")
    sim.ivf_build_index(emb, idx, n_cells=16, n_groups=4)
    assert os.path.isdir(os.path.join(idx, "groups"))
    sim.ivf_build_index(emb, idx, n_cells=16)
    assert not os.path.exists(os.path.join(idx, "groups"))
    flat = str(tmp_path / "flat")
    sim.ivf_build_index(emb, flat, n_cells=16)
    assert _rows(sim.ivf_probe_index(spark, idx, qv, 10, n_probe=3)) == _rows(
        sim.ivf_probe_index(spark, flat, qv, 10, n_probe=3)
    )


def _reference_centroids(emb, n_cells):
    """The rank-based coarse centroids as an expression plan: the
    n_cells smallest-id vectors, F.round-ed."""
    return emb.orderBy("vec_id").limit(n_cells).select(
        F.col("vec_id").alias("cell"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: F.round(x, 6)).alias("cv"),
    )


def _table(df, cols):
    return sorted(
        tuple(tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols)
        for r in df.collect()
    )


def test_hier_build_matches_expression_reference(spark, emb, tmp_path):
    """A two-level build's tables equal their expression reference:
    groups/ the rank-init group centers (the 4 smallest-cell centroids),
    centroids/ `lloyd_assign` of every centroid to them, and the posting
    cells `lloyd_assign` of the corpus — the pass and its kernel replay
    both bit for bit."""
    idx = str(tmp_path / "hier")
    sim.ivf_build_index(emb, idx, n_cells=16, n_groups=4)
    cents = _reference_centroids(emb, 16)
    groups = cents.orderBy("cell").limit(4).select(
        F.col("cell").alias("grp"), F.col("cv").alias("gv")
    )
    grouped = (
        sim.lloyd_assign(
            cents,
            centroids=groups.select(F.col("grp").alias("cluster"), F.col("gv").alias("cvec")),
            id_col="cell", vec_col="cv",
        )
        .join(cents, "cell")
        .select(F.col("cluster").alias("grp"), "cell", "cv")
    )

    def stored(sub):
        return spark.read.parquet(os.path.join(idx, sub))

    assert _table(stored("groups"), ["grp", "gv"]) == _table(groups, ["grp", "gv"])
    assert _table(stored("centroids"), ["grp", "cell", "cv"]) == _table(
        grouped, ["grp", "cell", "cv"]
    )
    assert _table(stored("cells"), ["id", "cell"]) == _table(
        sim.lloyd_assign(emb, k=16), ["vec_id", "cluster"]
    )


def test_pruned_assignment_exact_at_full_group_coverage(spark, emb, tmp_path):
    """assign_via_groups (the Θ(n·√n_cells) build-side pruned
    assignment) must be BIT-IDENTICAL to the exact BLAS assignment when
    assign_g_probe = n_groups — the candidate set is every cell, so
    only the evaluation order differs and the (d2 asc, cell asc)
    argmin cannot.  At assign_g_probe=1 it is an approximation; on THIS
    isotropic fixture agreement is ~0.52 (no cluster structure — the
    nearest cell is near-random across groups), which is the honest
    floor; the clustered-2M rehearsal row carries the production
    number.  Missing n_groups fails loudly."""
    def cells(idx):
        return sorted(
            (int(r["id"]), int(r["cell"]))
            for r in spark.read.parquet(os.path.join(idx, "cells"))
            .select("id", "cell")
            .collect()
        )

    exact, full, p1 = (str(tmp_path / n) for n in ("exact", "full", "p1"))
    sim.ivf_build_index(emb, exact, n_cells=16, n_groups=4)
    sim.ivf_build_index(
        emb, full, n_cells=16, n_groups=4, assign_via_groups=True, assign_g_probe=4
    )
    sim.ivf_build_index(
        emb, p1, n_cells=16, n_groups=4, assign_via_groups=True, assign_g_probe=1
    )
    ce, cf, c1 = cells(exact), cells(full), cells(p1)
    assert ce == cf
    agree = sum(1 for a, b in zip(ce, c1) if a == b) / len(ce)
    assert 0.0 < agree <= 1.0
    with pytest.raises(ValueError, match="requires n_groups"):
        sim.ivf_build_index(emb, str(tmp_path / "x1"), n_cells=16, assign_via_groups=True)


def test_pruned_assignment_exact_for_pq_and_sq_builders(spark, emb, tmp_path):
    """Same full-coverage exactness through the other two builders (the
    pruned assignment slots in before the PQ/SQ encode, which must be
    untouched by it)."""
    def cells(idx):
        return sorted(
            (int(r["id"]), int(r["cell"]), tuple(r["codes"]))
            for r in spark.read.parquet(os.path.join(idx, "cells"))
            .select("id", "cell", "codes")
            .collect()
        )

    for name, build in (
        (
            "ivfpq",
            lambda p, **kw: sim.ivfpq_build_index(
                emb, p, n_cells=16, m=8, k=16, dim=64, n_groups=4, **kw
            ),
        ),
        (
            "ivfsq",
            lambda p, **kw: sim.ivfsq_build_index(
                emb, p, n_cells=16, dim=64, n_groups=4, **kw
            ),
        ),
    ):
        exact, full = str(tmp_path / f"{name}_e"), str(tmp_path / f"{name}_f")
        build(exact)
        build(full, assign_via_groups=True, assign_g_probe=4)
        assert cells(exact) == cells(full), name


def test_hier_tombstones_fast_batch_compose(spark, emb, tmp_path):
    """The round-9 features compose: a TWO-LEVEL index with LOGICAL
    DELETES served by the batch join returns, per query,
    exactly the hier single probe's rows — with every tombstoned id
    absent from both."""
    from esper_tv_spark.streaming.ann import ann_delete

    idx = str(tmp_path / "hier_tomb")
    sim.ivf_build_index(emb, idx, n_cells=16, n_groups=4)
    qrows = emb.where(F.col("vec_id").isin([0, 7])).select("vec_id", "embedding").collect()
    qmap = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows}
    qdf = spark.createDataFrame(
        [(i, v) for i, v in qmap.items()], "qid long, qvec array<double>"
    )
    before = {
        q: _rows(sim.ivf_probe_index(spark, idx, v, 5, n_probe=3, n_probe_groups=2))
        for q, v in qmap.items()
    }
    victims = sorted({int(rows[0][0]) for rows in before.values()})
    ann_delete(spark, idx, victims)
    out = sim.ivf_knn_join_index(spark, idx, qdf, 5, n_probe=3, n_probe_groups=2)
    got_ids = {int(r["vec_id"]) for r in out.collect()}
    assert not (set(victims) & got_ids)
    for q, v in qmap.items():
        batch_q = _rows(out.where(F.col("qid") == q).drop("qid"))
        single = _rows(
            sim.ivf_probe_index(spark, idx, v, 5, n_probe=3, n_probe_groups=2)
        )
        assert batch_q == single, q


# ------------------------------------------------------------ maintenance


def test_recenter_preserves_grouping(spark, emb, qv, tmp_path):
    """ivf_recenter over a two-level index must regroup the NEW centroids
    and swap groups/ too — and the result must equal recentering the
    equivalent flat index (full group coverage), since posting rows and
    centroid math are identical."""
    from esper_tv_spark.streaming.ann import ivf_recenter

    hier, flat = str(tmp_path / "hier"), str(tmp_path / "flat")
    sim.ivf_build_index(emb, hier, n_cells=16, n_groups=4)
    sim.ivf_build_index(emb, flat, n_cells=16)
    ivf_recenter(spark, hier)
    ivf_recenter(spark, flat)
    assert os.path.exists(os.path.join(hier, "groups", "_SUCCESS"))
    grouped = spark.read.parquet(os.path.join(hier, "centroids"))
    assert "grp" in grouped.columns
    assert spark.read.parquet(os.path.join(hier, "groups")).count() == 4
    assert _rows(
        sim.ivf_probe_index(spark, hier, qv, 10, n_probe=3, n_probe_groups=4)
    ) == _rows(sim.ivf_probe_index(spark, flat, qv, 10, n_probe=3))


def test_stream_insert_into_hier_index(spark, emb, qv, tmp_path):
    """Stream-inserting into a two-level index assigns against the stored
    (grp-partitioned) centroids unchanged — the extra column is carried
    by the read, never the assignment — and a subsequent probe sees the
    new vectors exactly as a full rebuild would (stream==batch).  Uses
    the foreachBatch body's own pass (`_posting_pass`) directly — the
    streaming wrapper adds only the checkpointed trigger, covered in
    test_streaming_ann."""
    base = emb.where(F.col("vec_id") < 150)
    tail = emb.where(F.col("vec_id") >= 150)
    hier = str(tmp_path / "hier")
    sim.ivf_build_index(base, hier, n_cells=16, n_groups=4)
    (
        sim._posting_pass(
            tail, sim.sidecar_rows(os.path.join(hier, "centroids"), ["cell", "cv"]),
            "vec_id", "embedding", 6,
        )
        .write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(hier, "cells"))
    )
    full = str(tmp_path / "full")
    sim.ivf_build_index(emb, full, n_cells=16, n_groups=4)
    assert _rows(
        sim.ivf_probe_index(spark, hier, qv, 10, n_probe=3, n_probe_groups=2)
    ) == _rows(sim.ivf_probe_index(spark, full, qv, 10, n_probe=3, n_probe_groups=2))


# ---------------------------------------------------------------------------
# trained level-1 group centers (lloyd_train / group_train_iters) — r9
# ---------------------------------------------------------------------------


def test_lloyd_train_zero_iters_is_rank_init(spark, emb):
    """iters=0 returns exactly the rank-init seed set (the k smallest-id
    vectors, rounded) — lloyd_train is a strict generalization of the
    rank-init grouping every pre-r9 index used."""
    got = {r["cluster"]: list(r["cvec"]) for r in sim.lloyd_train(emb, k=4, iters=0).collect()}
    want = {
        r["vec_id"]: [round(float(x), 6) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    }
    assert got == want


def _lloyd_train_reference(emb, k, iters):
    """`lloyd_train`'s iterations as expression plans: `lloyd_assign`, a
    join back to the vectors, and the exact scaled-bigint means."""
    spark = emb.sparkSession
    pts = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    centers = dict(_table(_reference_centroids(emb, k), ["cell", "cv"]))
    for _ in range(iters):
        cdf = spark.createDataFrame(
            [(c, list(v)) for c, v in sorted(centers.items())], "cluster long, cvec array<double>"
        )
        means = (
            sim.lloyd_assign(pts, centroids=cdf, vec_col="v")
            .join(pts, "vec_id")
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.round(F.col("val") * F.lit(1e6)).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cluster",
                "pos",
                F.round(
                    F.col("s").cast("double") / (F.col("n").cast("double") * F.lit(1e6)), 6
                ).alias("m"),
            )
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("c"))
        )
        for r in means.collect():
            centers[r["cluster"]] = tuple(s["m"] for s in r["c"])
    return centers


def test_lloyd_train_moves_centers_and_matches_expression_reference(spark, emb):
    """Training must actually move the centers off the seeds, and the
    one-pass assignment must produce IDENTICAL centers to the expression
    reference — same tie rules, same exact scaled-bigint means."""
    seed = {r["cluster"]: tuple(r["cvec"]) for r in sim.lloyd_train(emb, k=4, iters=0).collect()}
    got = {r["cluster"]: tuple(r["cvec"]) for r in sim.lloyd_train(emb, k=4, iters=2).collect()}
    assert got == _lloyd_train_reference(emb, 4, 2)
    assert any(seed[k] != got[k] for k in seed)
    assert sorted(got) == sorted(seed)  # labels stay the seed ids


def test_lloyd_train_empty_cluster_keeps_center(spark):
    """A cluster that captures no points keeps its previous center (the
    LEFT JOIN + coalesce convention the SQL oracle replays).  Seeds 0
    and 1 are identical vectors, so every point ties to cluster 0 and
    cluster 1 must keep [0, 0] — a mean over its empty set would be
    NULL/NaN and a dropped row would shrink k."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [5.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["cluster"]: list(r["cvec"]) for r in sim.lloyd_train(df, k=2, iters=1).collect()}
    assert got[1] == [0.0, 0.0]
    assert got[0] == [2.5, 2.75]  # mean of all four points


def test_trained_groups_full_coverage_bit_identical_to_flat(spark, emb, qv, tmp_path):
    """The bit-parity guarantee survives training: with n_probe_groups =
    n_groups every cell is still a candidate, so a trained-groups index
    must probe identically to the flat layout for every family."""
    cases = [
        (
            "ivf",
            lambda p, **kw: sim.ivf_build_index(emb, p, n_cells=16, **kw),
            lambda p, **kw: sim.ivf_probe_index(spark, p, qv, 10, n_probe=3, **kw),
        ),
        (
            "ivfsq",
            lambda p, **kw: sim.ivfsq_build_index(emb, p, n_cells=16, dim=64, **kw),
            lambda p, **kw: sim.ivfsq_probe_index(spark, p, qv, 10, n_probe=3, **kw),
        ),
    ]
    for name, build, probe in cases:
        flat, hier = str(tmp_path / f"{name}_flat"), str(tmp_path / f"{name}_tr")
        build(flat)
        build(hier, n_groups=4, group_train_iters=2)
        assert _rows(probe(hier, n_probe_groups=4)) == _rows(probe(flat)), name


def test_trained_groups_persisted_match_lloyd_train(spark, emb, tmp_path):
    """groups/ must hold exactly lloyd_train's output over the centroid
    table (not over the corpus, not re-seeded) and meta.json must record
    the training depth, so maintenance ops can preserve it."""
    import json

    idx = str(tmp_path / "tr")
    sim.ivfsq_build_index(emb, idx, n_cells=16, dim=64, n_groups=4, group_train_iters=2)
    cents = _reference_centroids(emb, 16)
    want = {
        r["cluster"]: list(r["cvec"])
        for r in sim.lloyd_train(cents, k=4, iters=2, id_col="cell", vec_col="cv").collect()
    }
    got = {
        r["grp"]: list(r["gv"])
        for r in spark.read.parquet(os.path.join(idx, "groups")).collect()
    }
    assert got == want
    with open(os.path.join(idx, "meta.json")) as f:
        assert json.load(f)["group_train_iters"] == 2


def test_trained_groups_change_pruned_probe(spark, emb, tmp_path):
    """q103's discrimination, pinned in pytest: at n_probe_groups=2 the
    trained grouping must yield a DIFFERENT probe result than rank-init
    for query vec_id=41 on this fixture — a builder that ignores
    group_train_iters would pass bit-parity tests but fail this (and the
    q103 oracle hash)."""
    qv41 = [
        float(x)
        for x in emb.where(F.col("vec_id") == 41).select("embedding").first()[0]
    ]
    tr, ri = str(tmp_path / "tr"), str(tmp_path / "ri")
    sim.ivf_build_index(emb, tr, n_cells=16, n_groups=4, group_train_iters=2)
    sim.ivf_build_index(emb, ri, n_cells=16, n_groups=4)
    got_tr = _rows(sim.ivf_probe_index(spark, tr, qv41, 10, n_probe=3, n_probe_groups=2))
    got_ri = _rows(sim.ivf_probe_index(spark, ri, qv41, 10, n_probe=3, n_probe_groups=2))
    assert got_tr != got_ri


def test_recenter_preserves_trained_grouping(spark, emb, qv, tmp_path):
    """ivf_recenter over a trained-groups index, called with the same
    group_train_iters, must re-TRAIN the level-1 centers over the NEW
    centroids (lloyd_train parity asserted) — not silently revert to
    rank-init seeds."""
    from esper_tv_spark.streaming.ann import ivf_recenter

    idx = str(tmp_path / "tr")
    sim.ivf_build_index(emb, idx, n_cells=16, n_groups=4, group_train_iters=2)
    ivf_recenter(spark, idx, group_train_iters=2)
    new_cents = spark.read.parquet(os.path.join(idx, "centroids")).select("cell", "cv")
    want = {
        r["cluster"]: list(r["cvec"])
        for r in sim.lloyd_train(new_cents, k=4, iters=2, id_col="cell", vec_col="cv").collect()
    }
    got = {
        r["grp"]: list(r["gv"])
        for r in spark.read.parquet(os.path.join(idx, "groups")).collect()
    }
    assert got == want
    # and the index still probes (full coverage == its own flat rerank)
    assert len(_rows(sim.ivf_probe_index(spark, idx, qv, 10, n_probe=3, n_probe_groups=4))) == 10


def test_pruned_build_assignment_uses_trained_groups(spark, emb, tmp_path):
    """assign_via_groups at FULL group coverage must stay exact under a
    trained grouping too — build-side pruning and the persisted layout
    derive their centers from the same _group_centers call."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sim.ivf_build_index(emb, a, n_cells=16, n_groups=4, group_train_iters=2)
    sim.ivf_build_index(
        emb, b, n_cells=16, n_groups=4, group_train_iters=2,
        assign_via_groups=True, assign_g_probe=4,
    )
    pa = spark.read.parquet(os.path.join(a, "cells")).select("id", "cell")
    pb = spark.read.parquet(os.path.join(b, "cells")).select("id", "cell")
    assert {(r["id"], r["cell"]) for r in pa.collect()} == {
        (r["id"], r["cell"]) for r in pb.collect()
    }
