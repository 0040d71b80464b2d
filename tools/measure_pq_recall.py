"""Measure IVF-PQ top-k recall: raw PQ vs residual PQ (vs OPQ when
present) on the CLUSTERED fixture (tools/make_scale.py --clustered).

Why this exists: round 6 measured by_residual honestly on the isotropic
replicated fixture and found a recall WASH — there was no cluster
structure for the coarse quantizer to strip, so the residual codebooks
bought distortion (-11%) but not ranking.  Real corpora are clustered;
this fixture is the mixture-of-Gaussians stand-in that makes the
refinement measurable (VERDICT r6 next-round #3).

Protocol: KMeans coarse quantizer (n_cells=64, matching the generative
G), PQ m=16 subspaces x k=16 codes over dim=256; Q=50 query vectors
drawn deterministically from the corpus; ground truth = exact L2 top-10
(numpy, driver-side — the corpus is the fixture, not 100 TB); recall@10
= |probe top-10 ∩ exact top-10| / 10 averaged over queries, self
excluded from neither side (the probe legitimately returns the query's
own row; exact contains it too, so it cancels).

Usage: python tools/measure_pq_recall.py [fixture_dir] [--n-probe P]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CELLS = 64
M = 16
K = 16
TOPK = 10
N_QUERIES = 50


def main() -> int:
    fixture = next(
        (a for a in sys.argv[1:] if not a.startswith("--")),
        os.path.join(REPO, ".scale", "clustered_sf1"),
    )
    n_probe = 8
    n_cells = N_CELLS
    for a in sys.argv[1:]:
        if a.startswith("--n-probe"):
            n_probe = int(a.split("=", 1)[1])
        if a.startswith("--n-cells"):
            n_cells = int(a.split("=", 1)[1])
    emb_path = os.path.join(fixture, "embeddings.parquet")
    if not os.path.exists(emb_path):
        print(f"no fixture at {fixture} — python tools/make_scale.py {fixture} --clustered")
        return 2

    import pyarrow.parquet as pq

    t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    # arrow-native load: flatten the list column's value buffer and
    # reshape — to_pylist() at 2M x 256 materializes 2M Python lists
    # (tens of GB transient) where this is one 4 GB array
    col = t["embedding"].combine_chunks()
    n_rows = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    mat = flat.reshape(n_rows, -1)
    dim = mat.shape[1]
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]

    # deterministic query draw: every ~n/Q-th vector
    stride = max(1, len(ids) // N_QUERIES)
    q_idx = np.arange(0, len(ids), stride)[:N_QUERIES]

    # exact L2 top-10 ground truth
    truth = {}
    for qi in q_idx:
        d2 = ((mat - mat[qi]) ** 2).sum(axis=1)
        truth[int(ids[qi])] = set(ids[np.argsort(d2, kind="stable")[:TOPK]].tolist())

    from esper_tv_spark import get_spark
    from esper_tv_spark.operators import similarity as sim

    spark = get_spark("measure-pq-recall")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(emb_path).select("vec_id", "embedding")

    # trained coarse quantizer — residual/OPQ only pay off vs trained cells
    _, centers = sim.ivf_fit(df, n_cells=n_cells)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cell long, cv array<double>"
    )

    variants = [("raw", {}), ("residual", {"by_residual": True})]
    if hasattr(sim, "opq_train"):
        rot = sim.opq_train(df, m=M, k=K, dim=dim)
        variants.append(("opq", {"opq_rotation": rot}))
        variants.append(
            ("opq+residual", {"opq_rotation": rot, "by_residual": True})
        )

    out = {}
    for name, kw in variants:
        idx = os.path.join(fixture, f"ivfpq_{name.replace('+', '_')}")
        t0 = time.time()
        sim.ivfpq_build_index(
            df, idx, n_cells=n_cells, m=M, k=K, dim=dim,
            coarse_centroids=cdf, **kw,
        )
        build_s = time.time() - t0
        hits = 0
        t0 = time.time()
        for qi in q_idx:
            got = {
                r["vec_id"]
                for r in sim.ivfpq_probe_index(
                    spark, idx, [float(x) for x in mat[qi]], TOPK, n_probe=n_probe
                ).collect()
            }
            hits += len(got & truth[int(ids[qi])])
        recall = hits / (TOPK * len(q_idx))
        out[name] = recall
        print(
            f"{name:14s} recall@{TOPK} = {recall:.3f}   "
            f"(build {build_s:.1f}s, probe {(time.time() - t0) / len(q_idx):.2f}s/q, "
            f"n_probe={n_probe}/{n_cells}, m={M}, k={K})",
            flush=True,
        )

    # context row: IVF-SQ8 at 1 byte/dim (16x the PQ storage at m=16 —
    # not a like-for-like budget, the classic accuracy-for-bytes rung)
    if hasattr(sim, "ivfsq_build_index"):
        idx = os.path.join(fixture, "ivfsq")
        t0 = time.time()
        # rank-based coarse here would differ from cdf's KMeans cells;
        # SQ8's build takes no coarse_centroids param — rebuild pattern
        sim.ivfsq_build_index(df, idx, n_cells=n_cells, dim=dim)
        build_s = time.time() - t0
        hits = 0
        t0 = time.time()
        for qi in q_idx:
            got = {
                r["vec_id"]
                for r in sim.ivfsq_probe_index(
                    spark, idx, [float(x) for x in mat[qi]], TOPK, n_probe=n_probe
                ).collect()
            }
            hits += len(got & truth[int(ids[qi])])
        recall = hits / (TOPK * len(q_idx))
        out["sq8"] = recall
        print(
            f"{'sq8':14s} recall@{TOPK} = {recall:.3f}   "
            f"(build {build_s:.1f}s, probe {(time.time() - t0) / len(q_idx):.2f}s/q, "
            f"n_probe={n_probe}/{n_cells}, 8 bit/dim)",
            flush=True,
        )
    spark.stop()
    import json

    print(json.dumps({"fixture": fixture, "n_probe": n_probe, "n_cells": n_cells, "recall": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
