"""Round-9 ANN scale rehearsals — the three evidence rows VERDICT r8
asked for, each appended to .scale/rehearsal_<tag>.jsonl:

  hier2m    — two-level coarse quantizer at 2M x 256 (clustered_2m,
              n_cells='auto' ~ 5727, n_groups='auto' ~ 76):
              (a) full-coverage parity — hier probe cells == flat cells
                  for an 8-query batch (the bit-parity guarantee, now
                  witnessed at the scale the layer exists for);
              (b) pruned-group cell agreement + walls — at
                  n_probe_groups=8 (10.5% of groups) how often the
                  hier cell choice matches flat top-32, and what the
                  centroid-ranking driver action costs flat (5.7k-row
                  table) vs hier (76-row groups + pruned partitions);
              (c) recall@10 vs exact L2 over 50 queries, flat vs hier.
  autoladder — n_cells='auto' recall ladder row (VERDICT #5): the r8
              sized ladder hand-pinned n_cells=1024 (the generative
              truth); 'auto' picks 4*sqrt(2.05M) ~ 5727.  Measures
              residual / opq+residual (trained KMeans coarse, the
              ladder's protocol) and sq8 at auto sizing with n_probe
              scaled to the SAME 3.1% scan fraction (178/5727), so the
              row isolates coarse-resolution, not scan volume.
  maint     — serving-maintenance interleaving at sf1 (VERDICT #4): the
              pytest interleaving sequence (build -> batch join ->
              stream-insert -> join sees new vectors -> compact -> join
              bit-identical) re-run at 205k x 256 with WALLS and
              fragment censuses recorded, so fragment growth vs probe
              latency is measured, not assumed.

Later-round steps (same jsonl):

  prunedassign  — group-pruned build assignment at 2M: walls + agreement
              vs exact, and downstream recall (r9).
  trainedgroups — trained level-1 group centers vs rank-init at 2M:
              cell agreement at 10% group coverage and recall@10
              (r9-end; measured .559 -> .641 agreement, .808 -> .842
              recall at the same wall).
  filteredann — pre-filtered ANN recall vs n_probe at 10% selectivity
              (geometry-independent id-hash filter): measured FLAT at
              .988 from n_probe 32 to 320 (the filtered truth is
              sparser in step with the candidates); post-filter
              strawman .112.  Widening toward ~1/s is for filters that
              correlate with geometry.
  hier20m   — the centroid-table-stops-being-small regime, measured on
              REAL indexes over 20M x 64 (clustered_20m): auto ~17.9k
              cells and forced 180k cells (a 2e9 corpus's auto sizing
              carried by 20M vectors — posting side undersized, the
              quantizer side exactly the 2B shape).  Pruned-group
              builds, flat vs hier probe walls at a FIXED posting-scan
              fraction, batch joins, and the 180k-dir posting write.

Usage: python tools/rehearse_ann.py [--tag r9] [--steps hier2m,autoladder,maint]
Prereqs: .scale/clustered_2m (make_scale.py --clustered --n=2050000
--embed-dim=256 --clusters=1024 --anisotropy=1.0) and .scale/sf1;
hier20m needs .scale/clustered_20m (--clustered --n=20000000
--embed-dim=64 --clusters=4096 --plant=0 --anisotropy=1.0).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

C2M = os.path.join(REPO, ".scale", "clustered_2m")
SF1 = os.path.join(REPO, ".scale", "sf1")
TOPK = 10


def load_matrix(emb_path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    col = t["embedding"].combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    mat = flat.reshape(len(col), -1)
    order = np.argsort(ids)
    return ids[order], mat[order]


def exact_truth(ids, mat, q_idx):
    truth = {}
    for qi in q_idx:
        d2 = ((mat - mat[qi]) ** 2).sum(axis=1)
        truth[int(ids[qi])] = set(ids[np.argsort(d2, kind="stable")[:TOPK]].tolist())
    return truth


def step_hier2m(spark, emit):
    from esper_tv_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n = len(ids)
    n_cells = sim.recommended_cells(n)
    n_groups = sim.recommended_groups(n_cells)

    flat_idx = os.path.join(C2M, "ivfsq_flat")
    hier_idx = os.path.join(C2M, "ivfsq_hier")
    dim = mat.shape[1]

    def done(idx):
        return os.path.exists(os.path.join(idx, "centroids", "_SUCCESS"))

    flat_build = hier_build = -1.0  # -1 = reused a prior run's build
    if not done(flat_idx):
        t0 = time.time()
        sim.ivfsq_build_index(df, flat_idx, n_cells=n_cells, dim=dim, fast=True)
        flat_build = time.time() - t0
    if not done(hier_idx):
        t0 = time.time()
        sim.ivfsq_build_index(
            df, hier_idx, n_cells=n_cells, dim=dim, fast=True, n_groups=n_groups
        )
        hier_build = time.time() - t0

    # 8-query serving batch, deterministic draw
    stride = n // 8
    q_idx8 = np.arange(0, n, stride)[:8]
    qids = [int(ids[i]) for i in q_idx8]
    qvecs = [[float(x) for x in mat[i]] for i in q_idx8]
    n_probe = 32

    def rank(idx_path, n_probe_groups):
        t0 = time.time()
        cents, allowed = sim._probe_centroids(idx_path, qids, qvecs, n_probe_groups, 6)
        pairs, cells, _cv = sim._rank_probe_cells_blas(
            cents, qids, qvecs, n_probe, 6, allowed=allowed
        )
        wall = time.time() - t0
        by_q = {}
        for q, c in pairs:
            by_q.setdefault(q, []).append(c)
        return by_q, wall

    flat_cells, flat_rank_wall = rank(flat_idx, 0)
    full_cells, full_rank_wall = rank(hier_idx, n_groups)
    pruned_cells, pruned_rank_wall = rank(hier_idx, 8)
    assert full_cells == flat_cells, "full-coverage hier != flat cell choice"
    agree = sum(
        len(set(pruned_cells[q]) & set(flat_cells[q])) for q in qids
    ) / float(len(qids) * n_probe)
    emit(
        {
            "step": "hier2m_parity",
            "n": n,
            "n_cells": n_cells,
            "n_groups": n_groups,
            "flat_build_s": round(flat_build, 1),
            "hier_build_s": round(hier_build, 1),
            "full_coverage_cells_identical": True,
            "pruned_groups": 8,
            "pruned_cell_agreement_vs_flat": round(agree, 4),
            "rank_wall_flat_s": round(flat_rank_wall, 2),
            "rank_wall_hier_full_s": round(full_rank_wall, 2),
            "rank_wall_hier_pruned_s": round(pruned_rank_wall, 2),
        }
    )

    # recall@10 vs exact, 50 queries, flat vs hier(8 groups)
    stride = n // 50
    q_idx = np.arange(0, n, stride)[:50]
    truth = exact_truth(ids, mat, q_idx)
    out = {}
    for name, idx_path, kw in (
        ("flat", flat_idx, {}),
        ("hier_g8", hier_idx, {"n_probe_groups": 8}),
    ):
        hits = 0
        t0 = time.time()
        for qi in q_idx:
            got = {
                r["vec_id"]
                for r in sim.ivfsq_probe_index(
                    spark, idx_path, [float(x) for x in mat[qi]], TOPK,
                    n_probe=n_probe, **kw,
                ).collect()
            }
            hits += len(got & truth[int(ids[qi])])
        out[name] = {
            "recall": round(hits / (TOPK * len(q_idx)), 4),
            "probe_s_per_q": round((time.time() - t0) / len(q_idx), 2),
        }
    emit({"step": "hier2m_recall", "n_probe": n_probe, **out})


def step_autoladder(spark, emit):
    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n, dim = mat.shape
    n_cells = sim.recommended_cells(n)  # 'auto'
    # scan fraction matched to the r8 sized row (32/1024 = 3.125%)
    n_probe = max(1, round(n_cells * 32 / 1024))
    stride = n // 50
    q_idx = np.arange(0, n, stride)[:50]
    truth = exact_truth(ids, mat, q_idx)

    # trained coarse quantizer, the ladder's protocol — trained on a
    # SAMPLE (the standard practice for IVF quantizers at scale: the
    # quantizer needs the density shape, not every point; full-corpus
    # KMeans at k=5727 is ~2.4e13 flops of training for no recall the
    # sample doesn't already buy).  Sample size and iters recorded.
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    sample_rows = 120_000
    frac = min(1.0, sample_rows / float(n))
    max_iter = 5
    centers_path = os.path.join(C2M, "auto_kmeans_centers")
    if os.path.exists(os.path.join(centers_path, "_SUCCESS")):
        cdf = spark.read.parquet(centers_path)
    else:
        t0 = time.time()
        feat = df.sample(fraction=frac, seed=42).withColumn(
            "__features", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        model = KMeans(
            k=n_cells, seed=42, maxIter=max_iter, featuresCol="__features"
        ).fit(feat)
        centers = [c.tolist() for c in model.clusterCenters()]
        kmeans_wall = time.time() - t0
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)], "cell long, cv array<double>"
        )
        cdf.coalesce(1).write.mode("overwrite").parquet(centers_path)
        cdf = spark.read.parquet(centers_path)
        emit({"step": "autoladder_kmeans", "k": n_cells, "maxIter": max_iter,
              "train_fraction": round(frac, 4), "wall_s": round(kmeans_wall, 1)})

    # probe via the BATCH kNN joins — the production serving
    # shape at this n_probe: a 50-query single-probe loop at n_probe=178
    # pays the inline-literal-LUT plan-compile wall per query (the exact
    # pathology the broadcast-LUT carrier + BLAS serving path solve; at
    # 178 probed cells a residual single probe spends ~a minute in
    # Catalyst).  Bit-parity batch==single is pytest-asserted, so the
    # recall numbers are the same ones the probes would give.
    qdf = spark.createDataFrame(
        [(int(ids[qi]), [float(x) for x in mat[qi]]) for qi in q_idx],
        "qid long, qvec array<double>",
    )

    def batch_recall(join_fn, idx):
        t0 = time.time()
        got: dict[int, set] = {}
        for r in join_fn(spark, idx, qdf, TOPK, n_probe=n_probe).collect():
            got.setdefault(int(r["qid"]), set()).add(int(r["vec_id"]))
        wall = time.time() - t0
        hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
        return round(hits / (TOPK * len(q_idx)), 4), wall

    m_sub, k_codes = 16, 16
    rot = sim.opq_train(df, m=m_sub, k=k_codes, dim=dim)
    for name, kw in (
        ("residual", {"by_residual": True}),
        ("opq+residual", {"opq_rotation": rot, "by_residual": True}),
    ):
        idx = os.path.join(C2M, f"auto_ivfpq_{name.replace('+', '_')}")
        t0 = time.time()
        sim.ivfpq_build_index(
            df, idx, n_cells=n_cells, m=m_sub, k=k_codes, dim=dim,
            coarse_centroids=cdf, fast=True, **kw,
        )
        build_s = time.time() - t0
        recall, wall = batch_recall(sim.ivfpq_knn_join_index, idx)
        emit({"step": "autoladder_row", "variant": name,
              "n_cells": n_cells, "n_probe": n_probe,
              "recall": recall, "build_s": round(build_s, 1),
              "batch_join_wall_s": round(wall, 1),
              "probe_s_per_q": round(wall / len(q_idx), 2)})
        shutil.rmtree(idx, ignore_errors=True)

    idx = os.path.join(C2M, "auto_ivfsq")
    t0 = time.time()
    sim.ivfsq_build_index(df, idx, n_cells=n_cells, dim=dim, fast=True)
    build_s = time.time() - t0
    recall, wall = batch_recall(sim.ivfsq_knn_join_index, idx)
    emit({"step": "autoladder_row", "variant": "sq8",
          "n_cells": n_cells, "n_probe": n_probe,
          "recall": recall, "build_s": round(build_s, 1),
          "batch_join_wall_s": round(wall, 1),
          "probe_s_per_q": round(wall / len(q_idx), 2)})
    shutil.rmtree(idx, ignore_errors=True)


def step_prunedassign(spark, emit):
    """assign_via_groups at 2M: build-side pruned assignment (the
    Θ(n·√n_cells) path) vs the exact BLAS assignment — agreement
    fraction, build walls, and downstream probe recall, on the
    CLUSTERED fixture where the approximation has structure to exploit
    (the isotropic floor is ~0.52, pinned in pytest)."""
    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n, dim = mat.shape
    n_cells = sim.recommended_cells(n)
    n_groups = sim.recommended_groups(n_cells)

    def cells_of(idx):
        rows = spark.read.parquet(os.path.join(idx, "cells")).select("id", "cell").collect()
        return {int(r["id"]): int(r["cell"]) for r in rows}

    # the exact-assignment baseline is hier2m's ivfsq_hier build (same
    # params) — reuse it when present
    exact_idx = os.path.join(C2M, "ivfsq_hier")
    exact_s = -1.0
    if not os.path.exists(os.path.join(exact_idx, "centroids", "_SUCCESS")):
        exact_idx = os.path.join(C2M, "pa_exact")
        t0 = time.time()
        sim.ivfsq_build_index(
            df, exact_idx, n_cells=n_cells, dim=dim, fast=True, n_groups=n_groups
        )
        exact_s = time.time() - t0
    exact_cells = cells_of(exact_idx)

    stride = n // 50
    q_idx = np.arange(0, n, stride)[:50]
    truth = exact_truth(ids, mat, q_idx)

    def recall(idx):
        hits = 0
        for qi in q_idx:
            got = {
                r["vec_id"]
                for r in sim.ivfsq_probe_index(
                    spark, idx, [float(x) for x in mat[qi]], TOPK,
                    n_probe=32, n_probe_groups=8,
                ).collect()
            }
            hits += len(got & truth[int(ids[qi])])
        return round(hits / (TOPK * len(q_idx)), 4)

    exact_recall = recall(exact_idx)
    for g_probe in (1, 2):
        idx = os.path.join(C2M, f"pa_g{g_probe}")
        t0 = time.time()
        sim.ivfsq_build_index(
            df, idx, n_cells=n_cells, dim=dim, fast=True, n_groups=n_groups,
            assign_via_groups=True, assign_g_probe=g_probe,
        )
        wall = time.time() - t0
        got = cells_of(idx)
        agree = sum(1 for i, c in exact_cells.items() if got.get(i) == c) / len(
            exact_cells
        )
        emit(
            {
                "step": "pruned_assign_2m",
                "n": n,
                "n_cells": n_cells,
                "n_groups": n_groups,
                "g_probe": g_probe,
                "exact_build_s": round(exact_s, 1),
                "pruned_build_s": round(wall, 1),
                "assignment_agreement": round(agree, 4),
                "recall_exact_assign": exact_recall,
                "recall_pruned_assign": recall(idx),
            }
        )
        shutil.rmtree(idx, ignore_errors=True)
    if os.path.basename(exact_idx) == "pa_exact":
        shutil.rmtree(exact_idx, ignore_errors=True)


def step_maint(spark, emit, sf_dir=None, tag="sf1"):
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        _posting_pass,
        ivf_build_index,
        ivf_knn_join_index,
    )
    from esper_tv_spark.streaming.ann import (
        compact_posting_lists,
        posting_fragment_census,
    )

    sf_dir = sf_dir or SF1
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n = emb.count()
    cut = emb.approxQuantile("vec_id", [0.9], 0.0)[0]
    base = emb.where(F.col("vec_id") < cut)
    tail = emb.where(F.col("vec_id") >= cut)
    idx = os.path.join(sf_dir, "ivf_maint")
    shutil.rmtree(idx, ignore_errors=True)

    t0 = time.time()
    ivf_build_index(base, idx, n_cells=32, fast=True)
    build_s = time.time() - t0

    qrows = emb.orderBy(F.col("vec_id").asc()).limit(8).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "qid long, qvec array<double>",
    )

    def join_wall():
        # warm wall (second of two runs): the first run on a fresh index
        # pays codegen/JIT warmup that swamps the fragment-count signal
        # at these scales
        walls = []
        for _ in range(2):
            t0 = time.time()
            rows = sorted(
                (int(r["qid"]), int(r["vec_id"]), float(r["cosine_sim"]))
                for r in ivf_knn_join_index(
                    spark, idx, queries, TOPK, n_probe=3
                ).collect()
            )
            walls.append(time.time() - t0)
        return rows, walls[-1]

    r0, w0 = join_wall()
    frag0 = posting_fragment_census(idx)

    # stream-insert the tail in 8 micro-batch-sized appends (the
    # foreachBatch body, driven directly — walls are the insert cost,
    # not the trigger scheduler's)
    t0 = time.time()
    for i in range(8):
        batch = tail.where(F.col("vec_id") % 8 == i)
        (
            _posting_pass(batch, os.path.join(idx, "centroids"), "vec_id", "embedding", 6)
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(idx, "cells"))
        )
    insert_s = time.time() - t0
    frag1 = posting_fragment_census(idx)

    r1, w1 = join_wall()
    tail_ids = {int(r["vec_id"]) for r in tail.select("vec_id").collect()}
    sees_tail = any(v in tail_ids for _q, v, _s in r1)

    t0 = time.time()
    stats = compact_posting_lists(spark, idx, min_fragments=2)
    compact_s = time.time() - t0
    frag2 = posting_fragment_census(idx)
    r2, w2 = join_wall()

    emit(
        {
            "step": f"serving_maintenance_{tag}",
            "n_vectors": n,
            "build_s": round(build_s, 1),
            "join_wall_fresh_s": round(w0, 2),
            "insert_8_batches_s": round(insert_s, 1),
            "fragments_before": sum(frag0.values()),
            "fragments_after_insert": sum(frag1.values()),
            "join_wall_fragmented_s": round(w1, 2),
            "join_sees_inserted_tail": sees_tail,
            "compact_s": round(compact_s, 1),
            "compact_stats": stats,
            "fragments_after_compact": sum(frag2.values()),
            "join_wall_compacted_s": round(w2, 2),
            "join_bit_identical_across_compaction": r1 == r2,
        }
    )
    assert r1 == r2, "compaction changed serving results"
    assert sees_tail, "inserted vectors invisible to the serving join"

    # tombstone -> purge -> retire walls (r11 VERDICT #8): the earlier
    # phases time build/insert/compact; these time the DELETE lifecycle
    # itself — the logical tombstone write, the probe paying the
    # tombstone anti-join, the physical purge, and cell retirement —
    # with the serving contracts asserted at each step (deleted ids
    # vanish immediately; a purge is bit-identical to the tombstoned
    # view; retirement keeps them gone).
    from esper_tv_spark.streaming.ann import ann_delete

    served = sorted({int(v) for _q, v, _s in r2})
    t0 = time.time()
    ann_delete(spark, idx, served)
    delete_s = time.time() - t0
    r3, w3 = join_wall()
    still = sorted(set(served) & {int(v) for _q, v, _s in r3})
    t0 = time.time()
    purge_stats = compact_posting_lists(spark, idx, min_fragments=1, purge=True)
    purge_s = time.time() - t0
    r4, w4 = join_wall()
    t0 = time.time()
    retired = compact_posting_lists(
        spark, idx, min_fragments=10**9, retire_empty_cells=True
    ).get("cells_retired", 0)
    retire_s = time.time() - t0
    r5, w5 = join_wall()
    emit(
        {
            "step": f"delete_lifecycle_{tag}",
            "tombstoned_ids": len(served),
            "tombstone_write_s": round(delete_s, 2),
            "join_wall_tombstoned_s": round(w3, 2),
            "deleted_ids_still_served": len(still),
            "purge_s": round(purge_s, 1),
            "purged_ids": purge_stats.get("purged_ids"),
            "join_wall_purged_s": round(w4, 2),
            "purge_bit_identical_to_tombstoned": r3 == r4,
            "cells_retired": retired,
            "retire_s": round(retire_s, 1),
            "join_wall_retired_s": round(w5, 2),
            "deleted_ids_after_retire": len(
                set(served) & {int(v) for _q, v, _s in r5}
            ),
        }
    )
    assert not still, "tombstoned ids still served"
    assert r3 == r4, "physical purge changed serving results"
    assert not set(served) & {int(v) for _q, v, _s in r5}


def step_trainedgroups(spark, emit):
    """TRAINED level-1 group centers at 2M (the r9 'trained groups'
    follow-up the hier2m row motivated): the rank-init grouping loses
    ~.17 recall@10 at ~10% group coverage; `group_train_iters` runs
    full Lloyd iterations over the centroid table at build time.  This
    step measures, on the clustered 2M fixture at auto sizing:

      - the training wall itself (T iterations over n_cells rows);
      - full-coverage cell-choice parity vs flat (the bit-parity
        guarantee must survive training);
      - pruned-group (g=8) cell agreement vs flat — trained vs the
        hier2m row's rank-init number;
      - recall@10 at g=8, trained vs rank-init, same n_probe.
    """
    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n, dim = mat.shape
    n_cells = sim.recommended_cells(n)
    n_groups = sim.recommended_groups(n_cells)
    iters = 3

    def done(idx):
        return os.path.exists(os.path.join(idx, "centroids", "_SUCCESS"))

    flat_idx = os.path.join(C2M, "ivfsq_flat")
    ri_idx = os.path.join(C2M, "ivfsq_hier")        # rank-init grouping
    tr_idx = os.path.join(C2M, "ivfsq_hier_tr")     # trained grouping
    builds = {}
    for idx, kw in (
        (flat_idx, {}),
        (ri_idx, {"n_groups": n_groups}),
        (tr_idx, {"n_groups": n_groups, "group_train_iters": iters}),
    ):
        if not done(idx):
            t0 = time.time()
            sim.ivfsq_build_index(df, idx, n_cells=n_cells, dim=dim, fast=True, **kw)
            builds[os.path.basename(idx)] = round(time.time() - t0, 1)

    stride = n // 8
    q_idx8 = np.arange(0, n, stride)[:8]
    qids = [int(ids[i]) for i in q_idx8]
    qvecs = [[float(x) for x in mat[i]] for i in q_idx8]
    n_probe = 32

    def rank(idx_path, n_probe_groups):
        cents, allowed = sim._probe_centroids(idx_path, qids, qvecs, n_probe_groups, 6)
        pairs, _cells, _cv = sim._rank_probe_cells_blas(
            cents, qids, qvecs, n_probe, 6, allowed=allowed
        )
        by_q = {}
        for q, c in pairs:
            by_q.setdefault(q, []).append(c)
        return by_q

    flat_cells = rank(flat_idx, 0)
    assert rank(tr_idx, n_groups) == flat_cells, "trained full coverage != flat"

    def agreement(idx_path):
        pruned = rank(idx_path, 8)
        return sum(
            len(set(pruned[q]) & set(flat_cells[q])) for q in qids
        ) / float(len(qids) * n_probe)

    emit(
        {
            "step": "trainedgroups_parity",
            "n": n,
            "n_cells": n_cells,
            "n_groups": n_groups,
            "train_iters": iters,
            "builds_s": builds,
            "full_coverage_cells_identical": True,
            "pruned_groups": 8,
            "cell_agreement_rankinit": round(agreement(ri_idx), 4),
            "cell_agreement_trained": round(agreement(tr_idx), 4),
        }
    )

    stride = n // 50
    q_idx = np.arange(0, n, stride)[:50]
    truth = exact_truth(ids, mat, q_idx)
    out = {}
    for name, idx_path in (("rankinit_g8", ri_idx), ("trained_g8", tr_idx)):
        hits = 0
        t0 = time.time()
        for qi in q_idx:
            got = {
                r["vec_id"]
                for r in sim.ivfsq_probe_index(
                    spark, idx_path, [float(x) for x in mat[qi]], TOPK,
                    n_probe=n_probe, n_probe_groups=8,
                ).collect()
            }
            hits += len(got & truth[int(ids[qi])])
        out[name] = {
            "recall": round(hits / (TOPK * len(q_idx)), 4),
            "probe_s_per_q": round((time.time() - t0) / len(q_idx), 2),
        }
    emit({"step": "trainedgroups_recall", "n_probe": n_probe, **out})


def step_filteredann(spark, emit):
    """PRE-FILTERED ANN recall at 2M (the _apply_id_filter docstring's
    promised measurement): with selectivity s, the probed cells hold
    ~s x fewer matches, so candidate depth — and recall — drops unless
    n_probe widens by ~1/s.  This step prices that guidance on the
    clustered 2M fixture at s = 10% (vec_id % 10 == 7):

      - exact filtered truth: L2 top-10 over the allowed subset (BLAS);
      - pre-filter recall@10 at n_probe in {32, 64, 128, 320} — 320 is
        the 32/s widening the docstring recommends;
      - the post-filter strawman at n_probe=32 (restrict the unfiltered
        top-10), the answer a missing semi-join would give.
    """
    from pyspark.sql import functions as F

    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n, dim = mat.shape
    n_cells = sim.recommended_cells(n)

    idx = os.path.join(C2M, "ivfsq_flat")
    if not os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")):
        t0 = time.time()
        sim.ivfsq_build_index(df, idx, n_cells=n_cells, dim=dim, fast=True)
        emit({"step": "filteredann_build", "build_s": round(time.time() - t0, 1)})

    sel_mod, sel_rem = 10, 7
    allow_mask = ids % sel_mod == sel_rem
    allow_df = df.where(F.col("vec_id") % sel_mod == sel_rem).select("vec_id")

    stride = n // 25
    q_idx = np.arange(0, n, stride)[:25]
    truth = {}
    sub_ids, sub = ids[allow_mask], mat[allow_mask]
    for qi in q_idx:
        d2 = ((sub - mat[qi]) ** 2).sum(axis=1)
        truth[int(ids[qi])] = set(
            sub_ids[np.argsort(d2, kind="stable")[:TOPK]].tolist()
        )

    out = {}
    for n_probe in (32, 64, 128, 320):
        hits, t0 = 0, time.time()
        for qi in q_idx:
            got = {
                r["vec_id"]
                for r in sim.ivfsq_probe_index(
                    spark, idx, [float(x) for x in mat[qi]], TOPK,
                    n_probe=n_probe, filter_ids=allow_df,
                ).collect()
            }
            hits += len(got & truth[int(ids[qi])])
        out[f"prefilter_np{n_probe}"] = {
            "recall": round(hits / (TOPK * len(q_idx)), 4),
            "probe_s_per_q": round((time.time() - t0) / len(q_idx), 2),
        }

    # the post-filter strawman: unfiltered top-10, then restrict
    hits = 0
    for qi in q_idx:
        got = {
            r["vec_id"]
            for r in sim.ivfsq_probe_index(
                spark, idx, [float(x) for x in mat[qi]], TOPK, n_probe=32
            ).collect()
            if r["vec_id"] % sel_mod == sel_rem
        }
        hits += len(got & truth[int(ids[qi])])
    out["postfilter_np32"] = {"recall": round(hits / (TOPK * len(q_idx)), 4)}

    emit(
        {
            "step": "filteredann_recall",
            "n": n,
            "n_cells": n_cells,
            "selectivity": 1.0 / sel_mod,
            **out,
        }
    )


def step_filteredadv(spark, emit):
    """GEOMETRY-CORRELATED pre-filter (the adversarial case the
    widening guidance exists for): exclude the query's OWN generative
    cluster (label != label(q)).  The filtered truth now lives in
    OTHER clusters — cells the probe ranks low for this query — so
    unlike the id-hash filter (recall-flat at .988), recall should
    start low and climb with n_probe.  Same 2M fixture, same index,
    same truth protocol; the knob being priced is n_probe as a
    function of filter-geometry correlation."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    import pyarrow.parquet as pq

    t = pq.read_table(emb_path, columns=["vec_id", "label"])
    lab_by_id = dict(
        zip(t["vec_id"].to_numpy().tolist(), t["label"].to_numpy().tolist())
    )
    labels = np.asarray([lab_by_id[int(i)] for i in ids])
    df = spark.read.parquet(emb_path)
    n, dim = mat.shape
    n_cells = sim.recommended_cells(n)
    idx = os.path.join(C2M, "ivfsq_flat")
    assert os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")), (
        "run the filteredann/trainedgroups steps first (builds ivfsq_flat)"
    )

    stride = n // 25
    q_idx = np.arange(0, n, stride)[:25]
    out = {}
    for n_probe in (32, 64, 128, 320):
        hits, t0 = 0, time.time()
        for qi in q_idx:
            ql = int(labels[qi])
            mask = labels != ql
            sub_ids, sub = ids[mask], mat[mask]
            d2 = ((sub - mat[qi]) ** 2).sum(axis=1)
            truth = set(sub_ids[np.argsort(d2, kind="stable")[:TOPK]].tolist())
            allow_df = df.where(F.col("label") != ql).select("vec_id")
            got = {
                r["vec_id"]
                for r in sim.ivfsq_probe_index(
                    spark, idx, [float(x) for x in mat[qi]], TOPK,
                    n_probe=n_probe, filter_ids=allow_df,
                ).collect()
            }
            hits += len(got & truth)
        out[f"np{n_probe}"] = {
            "recall": round(hits / (TOPK * len(q_idx)), 4),
            "probe_s_per_q": round((time.time() - t0) / len(q_idx), 2),
        }
    emit(
        {
            "step": "filteredadv_recall",
            "n": n,
            "n_cells": n_cells,
            "filter": "label != label(q) — excludes the query's cluster",
            **out,
        }
    )


def step_filteredset(spark, emit):
    """Persisted allow-sets at serving shape (the r9 VERDICT #6 ask):
    the filteredadv walls were dominated by a corpus-wide distinct on
    the predicate's id set re-paid PER PROBE.  build_filter_set
    evaluates each named filter once (one distinct, at build), stores
    the deduplicated id list next to the index, and every probe reuses
    the artifact.  This row prices, on the geometry-correlated
    adversarial filter (label != label(q)), the same probes three ways:
    unfiltered / inline-filter / stored-filter — asserting per-query
    bit-parity between inline and stored, and recording hits vs the
    filtered brute-force truth (identical by parity).  The claim under
    test: the stored path is within ~2x of UNFILTERED s/q (the filter
    becomes a broadcast semi-join against a tiny pre-built read, not a
    2M-row shuffle per probe)."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    import pyarrow.parquet as pq

    t = pq.read_table(emb_path, columns=["vec_id", "label"])
    lab_by_id = dict(
        zip(t["vec_id"].to_numpy().tolist(), t["label"].to_numpy().tolist())
    )
    labels = np.asarray([lab_by_id[int(i)] for i in ids])
    df = spark.read.parquet(emb_path)
    n, dim = mat.shape
    idx = os.path.join(C2M, "ivfsq_flat")
    assert os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")), (
        "run the filteredann/trainedgroups steps first (builds ivfsq_flat)"
    )

    stride = n // 10
    q_idx = np.arange(0, n, stride)[:10]
    q_labels = sorted({int(labels[qi]) for qi in q_idx})
    # build once per named filter — the serving deployment's amortized
    # cost.  Two artifacts per filter: the (90%) allow set and the (10%)
    # DENY complement — serving stores whichever is smaller; the deny
    # variant prices exactly that choice
    t0 = time.time()
    fdirs = {
        ql: sim.build_filter_set(
            df.where(F.col("label") != ql).select("vec_id"), idx, key=f"label != {ql}"
        )
        for ql in q_labels
    }
    fdirs_deny = {
        ql: sim.build_filter_set(
            df.where(F.col("label") == ql).select("vec_id"),
            idx, key=f"label != {ql} (deny)", mode="deny",
        )
        for ql in q_labels
    }
    build_s = round(time.time() - t0, 1)

    out = {}
    for n_probe in (32, 320):
        walls = {"unfiltered": 0.0, "inline": 0.0, "stored": 0.0, "stored_deny": 0.0}
        hits, parity = 0, True
        for qi in q_idx:
            ql = int(labels[qi])
            qv = [float(x) for x in mat[qi]]
            mask = labels != ql
            sub_ids, sub = ids[mask], mat[mask]
            d2 = ((sub - mat[qi]) ** 2).sum(axis=1)
            truth = set(sub_ids[np.argsort(d2, kind="stable")[:TOPK]].tolist())

            t0 = time.time()
            sim.ivfsq_probe_index(spark, idx, qv, TOPK, n_probe=n_probe).collect()
            walls["unfiltered"] += time.time() - t0

            allow_df = df.where(F.col("label") != ql).select("vec_id")
            t0 = time.time()
            got_inline = [
                tuple(r)
                for r in sim.ivfsq_probe_index(
                    spark, idx, qv, TOPK, n_probe=n_probe, filter_ids=allow_df
                ).collect()
            ]
            walls["inline"] += time.time() - t0

            t0 = time.time()
            got_stored = [
                tuple(r)
                for r in sim.ivfsq_probe_index(
                    spark, idx, qv, TOPK, n_probe=n_probe, filter_ids=fdirs[ql]
                ).collect()
            ]
            walls["stored"] += time.time() - t0

            t0 = time.time()
            got_deny = [
                tuple(r)
                for r in sim.ivfsq_probe_index(
                    spark, idx, qv, TOPK, n_probe=n_probe, filter_ids=fdirs_deny[ql]
                ).collect()
            ]
            walls["stored_deny"] += time.time() - t0

            parity = parity and (got_stored == got_inline) and (got_deny == got_inline)
            hits += len({int(r[0]) for r in got_stored} & truth)
        out[f"np{n_probe}"] = {
            "recall": round(hits / (TOPK * len(q_idx)), 4),
            "parity_stored_vs_inline": parity,
            **{
                f"{k}_s_per_q": round(v / len(q_idx), 2) for k, v in walls.items()
            },
        }
    emit(
        {
            "step": "filteredset_persisted_allow",
            "n": n,
            "filter": "label != label(q) — geometry-correlated adversarial",
            "filter_set_build_s_total": build_s,
            "n_filter_sets": len(fdirs),
            **out,
        }
    )


def step_sortedlayout(spark, emit):
    """SORTED (object-store) posting layout vs dirs at the 2M auto sizing
    (5728 cells): build wall (the dirs layout's file-creation cost vs one
    range-shuffled flat write), probe wall at n_probe 32/320 (dir-listing
    vs pushed-filter row-group pruning), file/dir counts (the object-store
    LIST story), and per-query bit-parity — the layout must be invisible
    in answers.  Same fixture + params as filteredann's ivfsq_flat."""
    from pyspark.sql import functions as F  # noqa: F401

    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n, dim = mat.shape
    n_cells = sim.recommended_cells(n)

    walls = {}
    d_idx = os.path.join(C2M, "ivfsq_dirs_r10")
    s_idx = os.path.join(C2M, "ivfsq_sorted_r10")
    for name, idx, layout in (("dirs", d_idx, "dirs"), ("sorted", s_idx, "sorted")):
        if not os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")):
            t0 = time.time()
            sim.ivfsq_build_index(
                df, idx, n_cells=n_cells, dim=dim, fast=True, layout=layout
            )
            walls[f"build_{name}_s"] = round(time.time() - t0, 1)

    def census(root):
        n_dirs = n_files = 0
        for dirpath, dirnames, filenames in os.walk(root):
            n_dirs += len(dirnames)
            n_files += sum(1 for f in filenames if f.endswith(".parquet"))
        return n_dirs, n_files

    dd, df_ = census(os.path.join(d_idx, "cells"))
    sd, sf_ = census(os.path.join(s_idx, "cells_sorted"))
    stride = n // 10
    q_idx = np.arange(0, n, stride)[:10]
    out = {}
    for n_probe in (32, 320):
        w = {"dirs": 0.0, "sorted": 0.0}
        parity = True
        for qi in q_idx:
            qv = [float(x) for x in mat[qi]]
            t0 = time.time()
            a = [tuple(r) for r in sim.ivfsq_probe_index(
                spark, d_idx, qv, TOPK, n_probe=n_probe).collect()]
            w["dirs"] += time.time() - t0
            t0 = time.time()
            b = [tuple(r) for r in sim.ivfsq_probe_index(
                spark, s_idx, qv, TOPK, n_probe=n_probe).collect()]
            w["sorted"] += time.time() - t0
            parity = parity and (a == b)
        out[f"np{n_probe}"] = {
            "parity": parity,
            "dirs_s_per_q": round(w["dirs"] / len(q_idx), 2),
            "sorted_s_per_q": round(w["sorted"] / len(q_idx), 2),
        }
    emit(
        {
            "step": "sortedlayout_2m",
            "n": n,
            "n_cells": n_cells,
            **walls,
            "dirs_layout": {"dirs": dd, "files": df_},
            "sorted_layout": {"dirs": sd, "files": sf_},
            **out,
        }
    )


def step_filteredbatch(spark, emit):
    """Filtered BATCH kNN join at serving shape (2M,
    n_probe=32, 8-query batch): one semi-join against the allowed-id
    set covers the whole batch — this row prices that semi-join against
    the unfiltered join, and asserts per-query parity vs filtered
    single probes at depth."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C2M, "embeddings.parquet")
    ids, mat = load_matrix(emb_path)
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    n, dim = mat.shape
    idx = os.path.join(C2M, "ivfsq_flat")
    assert os.path.exists(os.path.join(idx, "centroids", "_SUCCESS"))

    allow_df = df.where(F.col("vec_id") % 10 == 7).select("vec_id")
    stride = n // 8
    q8 = np.arange(0, n, stride)[:8]
    batch = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in mat[i]]) for i in q8],
        "qid long, qvec array<double>",
    )
    walls = {}
    for name, kw in (("unfiltered", {}), ("filtered_10pct", {"filter_ids": allow_df})):
        t0 = time.time()
        rows = sim.ivfsq_knn_join_index(
            spark, idx, batch, TOPK, n_probe=32, **kw
        ).collect()
        walls[name] = {"wall_s": round(time.time() - t0, 1), "rows": len(rows)}

    # per-query parity vs filtered single probes at the same depth
    by_q = {}
    joined = sim.ivfsq_knn_join_index(
        spark, idx, batch, TOPK, n_probe=32, filter_ids=allow_df
    )
    for r in joined.orderBy("qid", F.col("adist").asc(), "vec_id").collect():
        by_q.setdefault(int(r["qid"]), []).append((r["vec_id"], r["adist"]))
    parity = all(
        by_q.get(int(ids[i]), [])
        == [
            (r["vec_id"], r["adist"])
            for r in sim.ivfsq_probe_index(
                spark, idx, [float(x) for x in mat[i]], TOPK,
                n_probe=32, filter_ids=allow_df,
            ).collect()
        ]
        for i in q8
    )
    emit(
        {
            "step": "filteredbatch_serving",
            "n": n,
            "n_probe": 32,
            "n_q": 8,
            "batch_parity_vs_single_probes": parity,
            **walls,
        }
    )


C20M = os.path.join(REPO, ".scale", "clustered_20m")


def step_hier20m(spark, emit):
    """The 2B-vector regime the two-level quantizer exists for, measured
    instead of argued (the r8 VERDICT's standing ask): at n_cells = 4*sqrt(n)
    a 2e9-vector corpus carries ~180k coarse centroids — a table that stops
    being one tiny read and a per-probe ranking that stops being free.
    The 2M fixture tops out at 5.7k cells; this step builds REAL ivfsq
    indexes over the 20M x 64 clustered fixture in two configurations:

      A (honest-at-20M):  n_cells = auto ~ 17.9k, n_groups ~ 134
      B (2B synthetic):   n_cells = 180,000, n_groups = 424 — the auto
                          sizing of a 2e9 corpus, carried by 20M vectors
                          (~110/cell); the POSTING side is undersized but
                          the QUANTIZER side (centroid table, ranking,
                          partition reads, 180k-dir posting write) is
                          exactly the 2B shape.

    Both build with pruned group assignment (exact assignment at
    20M x 180k is 2.3e14 flops — the build wall the pruned path removes).
    Probes compare flat (reads ALL centroids per probe) vs hierarchical
    (reads only the winning groups' centroid partitions) at a FIXED
    posting-scan fraction (0.18% — n_probe 32 at A, 322 at B), so the
    wall difference isolates the centroid path.  Recall@10 vs exact
    float truth over 10 queries; the 180k-dir posting write wall is the
    committer-behavior datum nobody measures until it hurts."""
    from esper_tv_spark.operators import similarity as sim

    emb_path = os.path.join(C20M, "embeddings.parquet")
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")
    ids, mat = load_matrix(emb_path)
    n, dim = mat.shape

    configs = {
        "auto20m": {"n_cells": sim.recommended_cells(n), "n_probe": 32},
        "cells180k": {"n_cells": 180_000, "n_probe": 322},
    }

    stride = n // 10
    q_idx = np.arange(0, n, stride)[:10]
    truth = exact_truth(ids, mat, q_idx)

    for tag, cfg in configs.items():
        n_cells = cfg["n_cells"]
        n_groups = sim.recommended_groups(n_cells)
        n_probe = cfg["n_probe"]
        idx = os.path.join(C20M, f"ivfsq_{tag}")
        if not os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")):
            t0 = time.time()
            sim.ivfsq_build_index(
                df, idx, n_cells=n_cells, dim=dim, fast=True,
                n_groups=n_groups, assign_via_groups=True, assign_g_probe=2,
            )
            emit(
                {
                    "step": "hier20m_build",
                    "config": tag,
                    "n": n,
                    "n_cells": n_cells,
                    "n_groups": n_groups,
                    "build_s": round(time.time() - t0, 1),
                }
            )

        out = {}
        for name, g in (("flat", n_groups), ("hier_g8", 8), ("hier_g32", 32)):
            hits, t0 = 0, time.time()
            for qi in q_idx:
                got = {
                    r["vec_id"]
                    for r in sim.ivfsq_probe_index(
                        spark, idx, [float(x) for x in mat[qi]], TOPK,
                        n_probe=n_probe, n_probe_groups=g,
                    ).collect()
                }
                hits += len(got & truth[int(ids[qi])])
            out[name] = {
                "recall": round(hits / (TOPK * len(q_idx)), 4),
                "probe_s_per_q": round((time.time() - t0) / len(q_idx), 2),
            }
        emit(
            {
                "step": "hier20m_probe",
                "config": tag,
                "n_cells": n_cells,
                "n_groups": n_groups,
                "n_probe": n_probe,
                "scan_fraction": round(n_probe / n_cells, 5),
                **out,
            }
        )

        # serving batch: 8 queries through the amortized-scan join,
        # flat vs hier — at 180k cells the flat batch ranker must pull
        # the whole centroid table driver-side (one GEMM), the
        # hier one only the winning groups' partitions
        stride8 = n // 8
        q8 = np.arange(0, n, stride8)[:8]
        batch = spark.createDataFrame(
            [(int(ids[i]), [float(x) for x in mat[i]]) for i in q8],
            "qid long, qvec array<double>",
        )
        walls = {}
        for name, g in (("flat", n_groups), ("hier_g8", 8)):
            t0 = time.time()
            sim.ivfsq_knn_join_index(
                spark, idx, batch, TOPK, n_probe=n_probe, n_probe_groups=g,
            ).collect()
            walls[name] = round(time.time() - t0, 1)
        emit({"step": "hier20m_batch_join", "config": tag, "n_q": 8, **walls})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r9")
    ap.add_argument("--steps", default="hier2m,autoladder,maint")
    args = ap.parse_args()
    steps = set(args.steps.split(","))
    out_path = os.path.join(REPO, ".scale", f"rehearsal_{args.tag}.jsonl")

    def emit(row: dict) -> None:
        row["ts"] = time.strftime("%H:%M:%S")
        with open(out_path, "a") as f:
            f.write(json.dumps(row) + "\n")
        print(row, flush=True)

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from esper_tv_spark import get_spark

    spark = get_spark(f"rehearse-ann-{args.tag}")
    spark.sparkContext.setLogLevel("ERROR")
    if "hier2m" in steps:
        step_hier2m(spark, emit)
        spark.catalog.clearCache()
    if "autoladder" in steps:
        step_autoladder(spark, emit)
        spark.catalog.clearCache()
    if "prunedassign" in steps:
        step_prunedassign(spark, emit)
        spark.catalog.clearCache()
    if "trainedgroups" in steps:
        step_trainedgroups(spark, emit)
        spark.catalog.clearCache()
    if "filteredann" in steps:
        step_filteredann(spark, emit)
        spark.catalog.clearCache()
    if "hier20m" in steps:
        step_hier20m(spark, emit)
        spark.catalog.clearCache()
    if "filteredadv" in steps:
        step_filteredadv(spark, emit)
        spark.catalog.clearCache()
    if "sortedlayout" in steps:
        step_sortedlayout(spark, emit)
        spark.catalog.clearCache()
    if "filteredset" in steps:
        step_filteredset(spark, emit)
        spark.catalog.clearCache()
    if "filteredbatch" in steps:
        step_filteredbatch(spark, emit)
        spark.catalog.clearCache()
    if "maint" in steps:
        step_maint(spark, emit)
    if "maint10" in steps:
        step_maint(spark, emit, sf_dir=os.path.join(REPO, ".scale", "sf10"), tag="sf10")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
