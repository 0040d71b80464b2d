"""Vector / embedding operators.

The reference's embedding store (rs-embed; /root/reference/app/esper/
face_embeddings.py) exposes knn / dist / mean / kmeans / logreg over
128-d face embeddings. Here embeddings are ArrayType(Float) columns and:

- dot/cosine are higher-order-function expressions (zip_with + aggregate)
  — JVM-side, codegen'd, no Python in the hot path;
- brute-force top-k is the exact baseline (orderBy + limit == distributed
  TakeOrdered: per-partition heaps, no global sort materialization);
- the scale path buckets by LSH (signed random hyperplanes, deterministic
  seed) so candidate generation is an equi-join on bucket — an IVF-style
  probe list would slot into the same shape;
- kmeans / logistic regression delegate to pyspark.ml (import-gated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from esper_tv_spark.sources.sidecar import (
    declared_parquet,
    parquet_schema,
    publish_staged,
    sidecar_rows,
    stage,
    tombstone_ids,
)


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i in double precision (left-to-right fold — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def lit_vector(vec: list[float]) -> Column:
    return F.array([F.lit(float(x)) for x in vec])


def lit_norm(vec: list[float]) -> Column:
    """`norm(lit_vector(vec))` as one double literal, folded on the
    driver: the same left fold of IEEE double products and a correctly
    rounded sqrt, so the bits are identical — without building the
    fold's lambda expressions through py4j on every probe."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return F.lit(math.sqrt(acc))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k against one query vector (reference
    knn, face_embeddings.py:74-96: all ids ranked by distance ascending).
    Ordering uses (rounded similarity desc, id asc) so the cut is
    deterministic and engine-portable. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k heaps + driver merge of k
    rows, not a full sort."""
    q = lit_vector(query_vec)
    sim = cosine(F.col(vec_col), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """k nearest corpus vectors for every query row (small query side is
    broadcast; per-query top-k via a rank window).

    Each side's L2 norm is computed once BEFORE the nested-loop join — the
    pair expression is then one dot product + one divide, not three dot
    products; same arithmetic (sqrt per side, then multiply), so results
    stay bit-identical to cosine() and the DuckDB oracle.

    This is the EXACT baseline and its pair stream is O(|Q| x |C|) with an
    interpreted-HOF dot (~4-6us/pair measured) — measured alternatives do
    not beat it while staying bit-exact: unrolling the dot into 64
    element_at terms codegens but runs ~3x SLOWER (ANSI bounds-check
    branches), and the BLAS path (knn_join_vectorized) reorders the
    summation so 6dp-rounded values are no longer provably identical.
    At corpus scale use the ANN paths (ann_cosine_topk / ivf / pq) or
    knn_join_vectorized where oracle-exactness is not required."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("__cv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__cn"),
    )
    sim = dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    j = c.crossJoin(F.broadcast(q)).withColumn("cosine_sim", sim)
    w = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(), F.col(corpus_id).asc())
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(query_id, corpus_id, "cosine_sim")
    )


def knn_join_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """knn_join's throughput path: queries are collected (they must be small
    enough to broadcast anyway), and each corpus partition computes ALL
    pair similarities as one numpy matmul over an Arrow batch — BLAS instead
    of per-pair expression evaluation, 10-100x on wide batches. Per-partition
    top-k heaps keep the shuffle at k rows per (query, partition).

    Trade-off vs knn_join: float summation order inside the matmul is
    BLAS-defined, so the last ulp can differ from the sequential fold — use
    knn_join where bit-parity with a SQL oracle matters."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select(query_id, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = queries.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    def score(it):
        ids_b, mat_b = bq.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_mat = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = _round_half_away(c_mat @ mat_b.T, round_digits)  # (n_corpus, n_q)
            top = min(k, len(pdf))
            # per-partition top-k per query: only k*n_q rows leave the task
            order = np.argsort(-sims, axis=0, kind="stable")[:top]
            out = {
                query_id: np.repeat(ids_b, top),
                corpus_id: pdf[corpus_id].to_numpy()[order.T.ravel()],
                "cosine_sim": np.take_along_axis(sims, order, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    partial = corpus.select(corpus_id, vec_col).mapInPandas(
        score, schema=f"{query_id} long, {corpus_id} long, cosine_sim double"
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(), F.col(corpus_id).asc())
    return (
        partial.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(query_id, corpus_id, "cosine_sim")
    )


def mean_embedding(
    df: DataFrame, group_cols: list[str], vec_col: str = "embedding", decimals: int = 9
) -> DataFrame:
    """Per-group centroid (reference mean, face_embeddings.py:57-61):
    posexplode -> groupBy (group, dim) mean -> re-assemble ordered array.
    One shuffle; array_agg ordered by dim via sort_array on (pos, val)
    structs keeps it deterministic.

    The mean is BIT-deterministic via the repo's scaled-bigint sum (values
    rounded to `decimals` dp, summed as longs): plain avg() accumulates in
    partition order, and at sf100 (200k values/group) one of 640 centroid
    cells straddled the 6-dp output rounding vs DuckDB. Unit-scale
    embeddings at 9 dp cap a group at ~1.8e9 values before long overflow —
    which Spark's ANSI mode turns into a loud error, not a wrong sum."""
    scale = float(10**decimals)
    exploded = df.select(*group_cols, F.posexplode(vec_col).alias("dim", "val"))
    per_dim = exploded.groupBy(*group_cols, "dim").agg(
        (
            F.sum(F.round(F.col("val").cast("double") * F.lit(scale)).cast("long")).cast("double")
            / F.lit(scale)
            / F.count("val").cast("double")
        ).alias("avg_val")
    )
    return (
        per_dim.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "avg_val"))).alias("__pairs"))
        .withColumn("centroid", F.transform("__pairs", lambda p: p["avg_val"]))
        .drop("__pairs")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes (numpy RandomState,
    fixed seed — reproducible across runs and engines)."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).tolist()


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: bit i = sign(vec · plane_i).

    The plane dots stay on the aggregate() HOF fold: an unrolled
    multiply-add chain benchmarked FASTER standalone but 10x slower when
    re-evaluated inside join map stages (the giant expression tree falls
    out of whole-stage codegen), and one array of all bands' unrolled
    dots exceeds Janino's 64KB method limit outright."""
    bits = [
        F.when(dot(vec, lit_vector(p)) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def srp_sketch(vec: Column, planes: list[list[float]], word_bits: int = 63) -> Column:
    """Wide SRP signature as array<long>: n_planes sign bits packed 63 per
    word. Hamming distance between sketches estimates the angle between the
    vectors (E[HD] = n_planes * θ/π), so a wide sketch is a cheap cosine
    proxy: 504 bits = 64 bytes vs 256 bytes for a 64-float vector."""
    words = []
    for w in range(0, len(planes), word_bits):
        words.append(srp_bucket(vec, planes[w : w + word_bits]))
    return F.array(*words)


def srp_sketch_query(query_vec: list[float], planes: list[list[float]], word_bits: int = 63) -> list[int]:
    """The same packing for a driver-side query vector (numpy)."""
    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)
    words = []
    for w in range(0, len(planes), word_bits):
        chunk = planes[w : w + word_bits]
        words.append(
            sum((1 << i) for i, p in enumerate(chunk) if float(np.asarray(p) @ qv) > 0)
        )
    return words


def sketch_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    n_bits: int = 504,
    candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN by SRP-sketch shortlist + exact rerank — the scale path when
    bucket probing can't reach the recall target (near-isotropic data).

    Pass 1 scans only the sketch column: one xor+popcount per 63-bit word
    per row (no float math), TakeOrdered keeps the `candidates` closest
    sketches (per-partition heaps + driver merge — no global sort). Pass 2
    reranks that shortlist with exact cosine. At corpus scale the sketch
    column is precomputed at ingest (64 bytes/row for 504 bits), so pass 1
    reads 4x less than the vectors and does ~60x less arithmetic; measured
    recall@10 at sf0.1 with defaults (candidates = 10k) is >= 0.9 against
    brute force (tests/test_similarity.py::test_sketch_rerank_recall_sf01)."""
    if candidates is None:
        candidates = max(10 * k, 100)
    planes = random_hyperplanes(len(query_vec), n_bits, seed)
    qwords = srp_sketch_query(query_vec, planes)
    qsk = F.array(*[F.lit(x).cast("long") for x in qwords])
    hd = F.aggregate(
        F.zip_with(srp_sketch(F.col(vec_col), planes), qsk, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    shortlist = (
        df.withColumn("__hd", hd)
        .orderBy(F.col("__hd").asc(), F.col(id_col).asc())
        .limit(candidates)
        .drop("__hd")
    )
    return cosine_topk(shortlist, query_vec, k, id_col, vec_col)


def ann_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's SRP bucket (plus
    Hamming-1 neighbor buckets for recall). At corpus scale the bucket column
    is precomputed + partitioned-by, so a probe reads only matching
    partitions instead of the full corpus."""
    import numpy as np

    planes = random_hyperplanes(len(query_vec), n_planes, seed)
    qv = np.array(query_vec)
    q_bucket = sum((1 << i) for i, p in enumerate(planes) if float(np.dot(qv, np.array(p))) > 0)
    probe = [q_bucket] + [q_bucket ^ (1 << i) for i in range(n_planes)]
    bucketed = df.withColumn("__bucket", srp_bucket(F.col(vec_col), planes))
    cand = bucketed.where(F.col("__bucket").isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_fit(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index build: KMeans coarse quantizer, every vector assigned to
    its nearest centroid cell. Returns (df + `cell` column, centroids).

    At corpus scale the assigned table is written partitioned by `cell`
    (sources/catalog.save_table(partition_by=['cell'])), so a probe is
    partition-pruned I/O over n_probe/n_cells of the corpus — the IVF
    alternative to the SRP-LSH bucket column, trading a training pass for
    data-adaptive cells."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="__features").fit(feat)
    assigned = model.transform(feat).withColumnRenamed("prediction", "cell").drop("__features")
    centers = [c.tolist() for c in model.clusterCenters()]
    return assigned, centers


def ivf_topk(
    assigned: DataFrame,
    centers: list[list[float]],
    query_vec: list[float],
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank cells by centroid cosine to the query (driver-side —
    centroids are tiny), scan only the n_probe nearest cells, exact top-k
    within them. Recall grows with n_probe; n_probe = n_cells is exact."""
    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)

    def cos(c):
        c = np.asarray(c, dtype=np.float64)
        d = np.linalg.norm(c) * np.linalg.norm(qv)
        return float(c @ qv / d) if d > 0 else -1.0

    probe = sorted(range(len(centers)), key=lambda i: -cos(centers[i]))[:n_probe]
    cand = assigned.where(F.col("cell").isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_topk_deterministic(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    n_cells: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF probe with a DETERMINISTIC coarse quantizer — the engine-portable
    twin of ivf_fit/ivf_topk (whose KMeans cells are iterative): cells are
    the n_cells smallest-id vectors (lloyd_assign), the probe list is the
    n_probe cells with the highest rounded centroid-cosine to the query
    (ties to the smaller cell id), and the exact rerank runs only inside
    probed cells. Every step is relational, so a SQL oracle replays the
    whole index — including which cells get probed.

    Scale shape identical to ivf_topk: at corpus scale the assignment is
    precomputed and the table written partitioned by cell, so the probe is
    partition-pruned I/O over n_probe/n_cells of the corpus; the probe
    ranking is a broadcast of n_cells rows."""
    assigned = lloyd_assign(
        df, k=n_cells, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    ).withColumnRenamed("cluster", "cell")
    cents = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.transform(F.col(vec_col).cast("array<double>"), lambda x: F.round(x, round_digits)).alias("__cv"),
        )
    )
    qlit = lit_vector(query_vec)
    probe = (
        cents.select("cell", F.round(cosine(F.col("__cv"), qlit), round_digits).alias("__sim"))
        .orderBy(F.col("__sim").desc(), F.col("cell").asc())
        .limit(n_probe)
        .select("cell")
    )
    cand = (
        assigned.join(F.broadcast(probe), "cell")
        .join(df.select(F.col(id_col), F.col(vec_col)), id_col)
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col, round_digits)


def _seed_rows(df: DataFrame, n: int, id_col: str, vec_col: str):
    """The n smallest-id vectors as (ids, float64 matrix) in id order,
    from one driver collect: the rank-based init set every IVF-family
    build seeds its coarse centroids (and IVF-PQ its codebooks) from —
    `lloyd_assign`'s init rule, selected by RANK (orderBy + limit, a
    distributed TakeOrdered), not by an id predicate.  A null or
    misshapen seed raises the pass's ValueError (`_vector_matrix`)."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .orderBy(F.col(id_col).asc())
        .limit(n)
        .collect()
    )
    return [r[0] for r in rows], _vector_matrix([r[1] for r in rows])


def _cell_rows(cells, cmat) -> "list[dict]":
    """Centroid rows (cell, cv) from cell ids and a centroid matrix."""
    return [{"cell": int(c), "cv": v} for c, v in zip(cells, cmat.tolist())]


def recommended_cells(n_vectors: int) -> int:
    """Coarse-quantizer size for an IVF-family index: n_cells =
    round(4 * sqrt(n)) (the FAISS sizing guidance).  Why it must scale
    with n and never be a constant: the round-8 2M x 256 anisotropic
    rehearsal measured the recall ladder COLLAPSING under a fixed
    n_cells=64 (residual .198 ~ raw .230 — 64 cells cannot resolve the
    corpus's 1024 true clusters, so the residual r = v - cell-center no
    longer strips the true center and the code-budget refinements have
    no lever), while n_cells=1024 restored it (residual .346,
    OPQ+residual .422, SQ8 .904 -> .978) WHILE scanning 4x less data
    per probe (32/1024 = 3.1% vs 8/64 = 12.5%).  Coarse resolution,
    not code budget, is the first-order recall knob at scale.  Rounds
    half-up like dedup.recommended_clusters (engine-replayable from
    count(*))."""
    import math

    return max(1, int(math.floor(4.0 * math.sqrt(max(0, n_vectors)) + 0.5)))


def _resolve_n_cells(df: DataFrame, n_cells) -> int:
    """'auto' -> recommended_cells(count) — one count job at build time,
    paid only when the caller didn't size the quantizer themselves (the
    same stance as the DSL's semantic-dedup k derivation)."""
    if n_cells == "auto":
        return recommended_cells(df.count())
    if not isinstance(n_cells, int) or isinstance(n_cells, bool) or n_cells <= 0:
        raise ValueError(f"n_cells must be a positive int or 'auto', got {n_cells!r}")
    return n_cells


def recommended_groups(n_cells: int) -> int:
    """Level-1 size for a TWO-LEVEL coarse quantizer: round(sqrt(n_cells)).
    Why two levels exist at all: n_cells = 4*sqrt(n) means ~180k centroids
    at 2e9 vectors — a flat centroid table that stops broadcasting and a
    cell ranking that stops being one tiny driver action.  sqrt(n_cells)
    groups make BOTH driver-side ranking actions O(sqrt(n_cells)) rows
    (~430 each at 180k cells) and turn the centroid read itself into a
    partition-pruned scan.  Same rounding discipline as
    recommended_cells (engine-replayable from a count)."""
    import math

    return max(1, int(math.floor(math.sqrt(max(0, n_cells)) + 0.5)))


def _resolve_n_groups(n_cells: int, n_groups, assign_via_groups: bool = False) -> "int | None":
    """None -> flat single-level layout; 'auto' -> recommended_groups.
    n_groups must not exceed n_cells (the rank-init group centers ARE
    the n_groups smallest-cell centroids — more groups than cells would
    silently degenerate).  The pruned build assignment
    (`assign_via_groups`) needs groups to prune by."""
    if n_groups is None:
        if assign_via_groups:
            raise ValueError("assign_via_groups=True requires n_groups")
        return None
    if n_groups == "auto":
        n_groups = recommended_groups(n_cells)
    if not isinstance(n_groups, int) or isinstance(n_groups, bool) or n_groups <= 0:
        raise ValueError(f"n_groups must be a positive int, 'auto' or None, got {n_groups!r}")
    if n_groups > n_cells:
        raise ValueError(
            f"n_groups={n_groups} exceeds n_cells={n_cells}: the level-1 "
            "quantizer is seeded from the n_groups smallest-cell centroids"
        )
    return n_groups


def _group_centers(
    spark,
    cents: "list[dict]",
    n_groups: int,
    round_digits: int,
    group_train_iters: int = 0,
) -> "list[dict]":
    """The (grp, gv) level-1 group centers over centroid rows (cell, cv).

    `group_train_iters=0` (the default, every pre-r9 index's layout):
    rank-init — the n_groups smallest-cell centroids, lloyd_assign's own
    seed rule applied to the centroid table, so the grouping replays in
    SQL exactly like the cell assignment.

    `group_train_iters>0`: `lloyd_train` runs that many full Lloyd
    iterations over the centroid table from the same seed — trained
    centers cut the recall cost of pruned-group probing (the 2M
    rehearsal priced rank-init at ~.17 recall@10 lost at 10% group
    coverage) while staying SQL-replayable (the oracle unrolls the
    iterations as CTEs).  Group labels remain the seed cell ids in both
    modes, so tie rules and the partition-column domain are unchanged."""
    if group_train_iters:
        table = spark.createDataFrame(
            [(r["cell"], r["cv"]) for r in cents], "cell long, cv array<double>"
        )
        trained = lloyd_train(
            table, k=n_groups, iters=group_train_iters,
            id_col="cell", vec_col="cv", round_digits=round_digits,
        )
        return [{"grp": r["cluster"], "gv": r["cvec"]} for r in trained.collect()]
    seeds = sorted(cents, key=lambda r: r["cell"])[:n_groups]
    return [{"grp": r["cell"], "gv": r["cv"]} for r in seeds]


def _centroid_tables(
    spark,
    path: str,
    cents: "list[dict]",
    n_groups: "int | None",
    round_digits: int,
    group_train_iters: int = 0,
) -> "tuple[list[dict], list[dict] | None, list]":
    """An index's coarse quantizer over centroid rows (cell, cv): returns
    (the rows, each labelled with its grp on a two-level index; the
    group rows or None; the `sidecar.stage` writes of its tables).

    Flat (`n_groups` None, the single-level layout every round-1..8
    index used): `centroids/` (cell, cv), and a stale `groups/` is
    staged for removal — probes pick the two-level path by its presence.

    TWO-LEVEL: `groups/` (grp, gv) holds the level-1 centers
    (`_group_centers`), and `centroids/` is PARTITIONED BY grp, each
    cell under its nearest group center as the pass's kernel assigns it
    (`_assign_cells_np`: lloyd_assign's rounded-d2 argmin, ties to the
    smaller grp).  groups/ is staged first, so a builder's completeness
    sentinel (centroids/ or a later table) implies complete groups; the
    probe also fails closed on a groups/ dir without _SUCCESS."""
    import os

    cpath, gpath = os.path.join(path, "centroids"), os.path.join(path, "groups")
    if n_groups is None:
        table = spark.createDataFrame(
            [(r["cell"], r["cv"]) for r in cents], "cell long, cv array<double>"
        ).coalesce(1)
        return cents, None, [(gpath, None), (cpath, lambda gen: table.write.parquet(gen))]
    groups = sorted(
        _group_centers(spark, cents, n_groups, round_digits, group_train_iters),
        key=lambda r: r["grp"],
    )
    gmat = _spark_round(_vector_matrix([r["gv"] for r in groups]), round_digits)
    near = _assign_cells_np(_vector_matrix([r["cv"] for r in cents]), gmat, round_digits)
    cents = [dict(r, grp=groups[g]["grp"]) for r, g in zip(cents, near)]
    gtable = spark.createDataFrame(
        [(r["grp"], r["gv"]) for r in groups], "grp long, gv array<double>"
    ).coalesce(1)
    ctable = spark.createDataFrame(
        [(r["grp"], r["cell"], r["cv"]) for r in cents],
        "grp long, cell long, cv array<double>",
    ).coalesce(1)
    return cents, groups, [
        (gpath, lambda gen: gtable.write.parquet(gen)),
        (cpath, lambda gen: ctable.write.partitionBy("grp").parquet(gen)),
    ]


def _publish_build(path: str, writes: list, meta: "dict | None" = None) -> None:
    """Stage a build's tables (`sidecar.stage`), then publish them in
    order: the last one is the index's completeness sentinel.  A write
    that raises — the pass's ValueError on a null or misshapen vector —
    publishes nothing, so an index already at `path` keeps its tables.
    IVF-PQ and IVF-SQ `meta` (meta.json) is written between the two
    steps, after the live sentinel's _SUCCESS is dropped: a crash before
    the last publish leaves an index that fails the 'meta.json +
    sentinel' check and is rebuilt — never new meta over old tables."""
    import json
    import os

    staged = stage(writes)
    if meta is not None:
        for stale in (os.path.join(writes[-1][0], "_SUCCESS"), os.path.join(path, "meta.json")):
            if os.path.exists(stale):
                os.remove(stale)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
    publish_staged(staged)


def _probe_centroids(
    path: str,
    qids: "list[int]",
    qvecs: "list[list[float]]",
    n_probe_groups: int,
    round_digits: int,
) -> "tuple[list[dict], dict[int, set[int]] | None]":
    """The centroid rows every probe ranks cells over, read on the
    driver (`sidecar_rows`).  Flat index: (every centroid row, None).
    Two-level index (a `groups/` table is present): rank the level-1
    group centers for every query with the ranker the cell level uses
    (`_rank_probe_cells_blas`), so the two levels share one total order
    (sim desc, id asc, nulls last) — then return only the winning
    groups' centroid rows (grp is the partition column: the read is
    partition-pruned I/O) plus each query's own winning-group set, so
    per-query cell ranking never considers another query's groups
    (batch results stay bit-identical to single probes)."""
    import os

    cpath = os.path.join(path, "centroids")
    gpath = os.path.join(path, "groups")
    if not os.path.isdir(gpath):
        return sidecar_rows(cpath, ["cell", "cv"]), None
    if not os.path.exists(os.path.join(gpath, "_SUCCESS")):
        raise ValueError(
            f"two-level index at {path} has a groups/ table without _SUCCESS "
            "— a crashed build; rebuild the index (probing a partial group "
            "table would silently mis-prune)"
        )
    groups = [
        {"cell": r["grp"], "cv": r["gv"]}
        for r in sidecar_rows(gpath, ["grp", "gv"])
    ]
    gpairs, glist, _gv = _rank_probe_cells_blas(
        groups, qids, qvecs, n_probe_groups, round_digits
    )
    allowed: dict[int, set[int]] = {}
    for q, g in gpairs:
        allowed.setdefault(q, set()).add(g)
    cents = sidecar_rows(
        cpath, ["cell", "cv", "grp"], filter_col="grp", filter_vals=glist
    )
    return cents, allowed


def ivf_build_index(
    df: DataFrame,
    path: str,
    n_cells: "int | str" = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_groups: "int | str | None" = None,
    fast: bool = False,
    assign_via_groups: bool = False,
    assign_g_probe: int = 1,
    group_train_iters: int = 0,
    layout: str = "dirs",
) -> None:
    """Persist the deterministic IVF index: build once, probe many — the
    IVF twin of the SRP split (dedup.build_srp_index /
    near_dup_pairs_from_index) and the frozen-store pattern of the
    reference's embedding queries (face_embeddings.py:74-96: repeated knn
    against one precomputed store). `ivf_topk_deterministic` recomputes
    the Lloyd assignment per query — fine for one-shot audits, but every
    repeated query pays the n*k scoring again; the index pays it ONCE.

    Writes two parquet tables under `path`:

    - ``cells/``      (cell, id, v array<double>, norm double),
      PARTITIONED BY cell — a probe of p cells is partition-pruned I/O
      over p/n_cells of the corpus, no join back to the live table
      (classic IVF posting lists carry the vectors);
    - ``centroids/``  (cell, cv array<double>) — the n_cells rank-based
      rounded centroids (the k smallest-id vectors, lloyd_assign's init),
      a tiny table the probe ranks with the same fold expressions the SQL
      oracle replays.

    The build is a bulk insert: the centroids are seeded on the driver
    (`_seed_rows`) and every posting row comes from the stream inserts'
    one Arrow pass (`_posting_pass`), which replays `lloyd_assign` and
    `norm` bit for bit; parquet doubles round-trip binary-exact, so
    probe results are bit-identical to the inline
    `ivf_topk_deterministic`.  The tables are staged in new generations
    and published with centroids/ (the completeness sentinel) last; a
    null or misshapen vector raises the pass's ValueError before
    anything is published, leaving an index already at `path` as it
    was.

    `n_cells='auto'` sizes the coarse quantizer as `recommended_cells`
    (4*sqrt(n)) — see that docstring for the 2M-rehearsal evidence that
    a constant n_cells collapses recall at scale.

    `n_groups` (int / 'auto' = round(sqrt(n_cells)) / None = flat)
    switches the coarse quantizer to the TWO-LEVEL layout
    (`_centroid_tables`): at n ≳ 1e8, n_cells = 4*sqrt(n) is ~40k-180k
    centroids — a table that stops broadcasting and a per-probe ranking
    that stops being one tiny driver action.  Level 1 groups the
    centroids (sqrt(n_cells) centers); a probe ranks groups first
    (O(sqrt(n_cells)) rows), then ranks cells over ONLY the winning
    groups' centroid partitions (partition-pruned I/O), then scans
    posting lists exactly as the flat index does.  Posting lists,
    assignment, and probe arithmetic are IDENTICAL to the flat layout —
    with n_probe_groups = n_groups the probe is bit-identical to flat
    (asserted in tests); smaller n_probe_groups trades centroid I/O for
    recall exactly as n_probe does one level down.

    `assign_via_groups=True` (requires n_groups) routes the build
    assignment through the level-1 groups too (`_quantizer`):
    Θ(n·√n_cells) instead of Θ(n·n_cells) scored pairs — the knob that
    keeps a 180k-cell build feasible.  Approximate for assign_g_probe <
    n_groups (agreement measured at 2M in the rehearsal); exact and
    bit-identical at assign_g_probe = n_groups (asserted in tests).

    `fast` is accepted and ignored: every build takes the one pass."""
    n_cells = _resolve_n_cells(df, n_cells)
    n_groups = _resolve_n_groups(n_cells, n_groups, assign_via_groups)
    ids, x = _seed_rows(df, n_cells, id_col, vec_col)
    cents, groups, writes = _centroid_tables(
        df.sparkSession, path, _cell_rows(ids, _spark_round(x, round_digits)),
        n_groups, round_digits, group_train_iters,
    )
    pruned = {"groups": groups, "g_probe": assign_g_probe} if assign_via_groups else {}
    rows = _posting_pass(df, cents, id_col, vec_col, round_digits, **pruned)
    _publish_build(path, [_posting_write(rows, path, layout), *writes])


def _probe_cells(
    path: str,
    query_vec: list[float],
    n_probe: int,
    n_probe_groups: int,
    round_digits: int,
) -> "tuple[list[int], dict[int, list[float]]]":
    """One query's n_probe cells, best first, and the cell -> centroid
    map (the residual probe's input): the centroid rows read on the
    driver (`_probe_centroids`) ranked by `_rank_probe_cells_blas` —
    no Spark job."""
    q = [list(query_vec)]
    cents, _allowed = _probe_centroids(path, [0], q, n_probe_groups, round_digits)
    pairs, _cells, cv_by_cell = _rank_probe_cells_blas(
        cents, [0], q, n_probe, round_digits
    )
    return [c for _q, c in pairs], cv_by_cell


def ivf_probe_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    n_probe: int = 3,
    id_col: str = "vec_id",
    round_digits: int = 6,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """Probe an `ivf_build_index` index: rank the persisted centroids by
    rounded query-cosine on the driver (pyarrow read + one BLAS GEMV,
    `_probe_cells`; ties to the smaller cell id, the total order the
    oracle replays), and scan ONLY the n_probe winning cells' partitions
    for the exact rerank.

    Probe-path plan: one TakeOrdered over the pruned cells scan — no
    joins, I/O = n_probe/n_cells of the corpus (PartitionFilters on the
    scan, asserted in tests/test_plans.py).
    The centroids, the posting schema and the tombstone ids are all
    read on the driver (`_probe_centroids`, `_read_cells`,
    `_apply_tombstones`), so the plan is built without a Spark job; its
    one job is the result's.

    Two-level indexes (built with n_groups) rank the level-1 group
    centers first and read only the `n_probe_groups` winning groups'
    centroid partitions — the centroid read becomes partition-pruned
    I/O.  Flat indexes ignore `n_probe_groups`."""
    probe, _cv = _probe_cells(path, query_vec, n_probe, n_probe_groups, round_digits)
    qlit = lit_vector(query_vec)
    cells = _apply_id_filter(_read_cells(spark, path, probe), filter_ids)
    sim = F.round(
        dot(F.col("v"), qlit) / (F.col("norm") * lit_norm(query_vec)), round_digits
    )
    return (
        cells.select(F.col("id").alias(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_range_search(
    spark,
    path: str,
    query_vec: list[float],
    threshold: float,
    n_probe: int = 3,
    id_col: str = "vec_id",
    round_digits: int = 6,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """RANGE search over an `ivf_build_index` index: every vector in the
    probed cells with rounded cosine >= `threshold` — the radius-query
    twin of the top-k probe (faiss `range_search`), and the shape a
    dedup/retrieval pipeline wants when the ANSWER SIZE is a property
    of the data, not a k the caller guessed ("everything at least this
    similar", e.g. near-dup sweeps at a fixed similarity bar).

    Plan shape is the probe's: the n_probe cells are ranked on the
    driver (`_probe_cells`), then one partition-pruned scan over those
    cells' posting lists, a rounded-cosine projection, a >= filter —
    no top-k window, no join; the only exchange past the scan is the
    output sort.  At 100 TB the result is bounded by the threshold
    times the probed fraction, never by the corpus: an unselective
    threshold returns a big DataFrame (the caller's aggregation
    handles it distributed), it never collects.  Like the IVF top-k,
    recall is n_probe-bounded: matches in unprobed cells are missed —
    same knob, same tradeoff, measured in the recall rehearsals.
    Composes with tombstones and `filter_ids` exactly as the top-k
    probe does (shared scan path)."""
    probe, _cv = _probe_cells(path, query_vec, n_probe, n_probe_groups, round_digits)
    qlit = lit_vector([float(x) for x in query_vec])
    cells = _apply_id_filter(_read_cells(spark, path, probe), filter_ids)
    sim = F.round(
        dot(F.col("v"), qlit) / (F.col("norm") * lit_norm(query_vec)), round_digits
    )
    return (
        cells.select(F.col("id").alias(id_col), sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= F.lit(float(threshold)))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    )


def _posting_write(rows: DataFrame, path: str, layout: str) -> tuple:
    """An index's posting rows as a `sidecar.stage` write, in one of two
    layouts:

    - ``layout="dirs"`` (default, every pre-r10 index): hive-partitioned
      ``cells/cell=<c>/`` — one dir per cell, repartitioned on the
      partition column first so each cell lands in ONE file (without it,
      n_tasks*n_cells files: 183k at the 2M auto sizing — the write, not
      the math, dominated).  Probes list only the probed dirs
      (_read_cells).  This is the layout streaming maintenance
      (insert/compact/recenter) operates on.
    - ``layout="sorted"`` (the OBJECT-STORE serving layout, r10): posting
      rows globally RANGE-partitioned and sorted by (cell, id) into
      ``cells_sorted/`` — a bounded number of files whose parquet
      row-group min/max stats on `cell` make the probe's
      `cell IN (...)` predicate prune I/O to the probed cells WITHOUT
      per-cell directories.  Why: at 2e9 vectors the auto sizing is
      ~180k cells = ~180k dirs; the dir layout's build paid ~17 min of
      posting-write wall mostly in file/dir creation (r9 hier20m datum)
      and every object-store listing API call is a priced round trip —
      LIST cost scales with dir count, while the sorted layout lists ONE
      dir and reads a handful of footers.  Pruning becomes row-group
      stats instead of partition dirs: the Spark-idiomatic manifest.
      Frozen/rebuilt corpora only — stream insert and compaction are
      dirs-layout maintenance and fail closed on sorted indexes.

    Returns (table, write(gen))."""
    import os

    if layout == "dirs":
        return os.path.join(path, "cells"), lambda gen: (
            rows.repartition(F.col("cell")).write.partitionBy("cell").parquet(gen)
        )
    if layout == "sorted":
        return os.path.join(path, "cells_sorted"), lambda gen: (
            rows.repartitionByRange(F.col("cell"), F.col("id"))
            .sortWithinPartitions("cell", "id")
            .write.parquet(gen)
        )
    raise ValueError(f"posting layout must be 'dirs' or 'sorted', got {layout!r}")


def _read_cells(spark, path: str, cell_list) -> DataFrame:
    """Read ONLY the probed cells' posting-list directories.  The naive
    `read.parquet(cells/).where(cell IN ...)` prunes the SCAN to
    n_probe partitions but pays file-LISTING for all n_cells partition
    dirs on every probe — one listing task per directory, 5,728 tasks
    per probe at the 2M auto-sized rehearsal, where metadata (not I/O)
    dominated the probe wall.  Listing must scale with what the probe
    READS: enumerate the n_probe `cell=<c>/` dirs directly under a
    basePath (so the partition column survives) and keep the isin
    predicate (same PartitionFilters clause in the plan, now over an
    already-restricted listing).  Missing dirs (a cell emptied by a
    purge, or never populated) are skipped — same semantics as pruning
    them.

    The posting schema is DECLARED from one footer of a probed cell
    plus the `cell` partition column (`parquet_schema`), so building
    the scan launches no schema-inference job; the ivfpq/ivfsq code
    layouts and stream-inserted fragments keep their types, since Spark
    infers from one footer too.

    SORTED layout (`cells_sorted/`, see _posting_write): one flat dir of
    range-partitioned files sorted by (cell, id) — the `cell IN (...)`
    predicate is PUSHED to the parquet reader and row-group min/max
    stats prune I/O to the probed cells (plan-asserted PushedFilters);
    listing is one dir however many cells the index has, which is the
    whole point on an object store.  Either table is resolved to its
    published generation first, so a concurrent publish cannot pull the
    scan's files away.

    Tombstoned ids are dropped (`_apply_tombstones`).  Their ids are
    read BEFORE the posting table is resolved: a purge publishes its
    rewritten cells before it removes the tombstones it applied, so
    either the ids or the purged generation hide every deleted row."""
    import os

    dead = tombstone_ids(path)
    sdir = os.path.realpath(os.path.join(path, "cells_sorted"))
    cells = [int(c) for c in cell_list]
    cdir = os.path.realpath(os.path.join(path, "cells"))
    dirs = [
        d for c in cells if os.path.isdir(d := os.path.join(cdir, f"cell={c}"))
    ]
    if os.path.isdir(sdir):
        posting = declared_parquet(spark, sdir)
    elif not dirs:
        # every probed cell is absent: the full-table read keeps the
        # empty result's schema (rare — only a fully-purged probe set)
        posting = declared_parquet(spark, cdir)
    else:
        posting = (
            spark.read.schema(parquet_schema(cdir, dirs[0]))
            .option("basePath", cdir)
            .parquet(*dirs)
        )
    return _apply_tombstones(posting.where(F.col("cell").isin(cells)), dead)


def _apply_tombstones(posting: DataFrame, ids: "list[int]") -> DataFrame:
    """Filter a posting-list scan against the index's tombstone ids
    (streaming.ann.ann_delete): logically-deleted ids must not surface
    from any probe.  A delete at 100 TB cannot rewrite posting lists —
    the id's cell is unknown without a full scan — so deletes are O(1)
    appends to `tombstones/`, and every probe reads the ids on the
    driver (`tombstone_ids`) and drops them with `NOT id IN (...)`
    (Catalyst's InSet): no join and no Spark job, and the set is
    bounded by compaction's purge.  Posting ids are never null (every
    writer inner-joins on id), so the filter keeps exactly the rows an
    anti-join would.  No tombstones -> the scan is returned untouched,
    so tombstone-free indexes (every contract index) keep their plan."""
    if not ids:
        return posting
    return posting.where(~F.col("id").isin(ids))


def build_filter_set(
    ids: DataFrame, index_path: str, key: str, mode: str = "allow"
) -> str:
    """Persist a BUILD-ONCE allow-set artifact for pre-filtered ANN
    serving, keyed by the caller's predicate identity.

    Why: the filteredadv rehearsal (2M x 256) paid a corpus-wide
    `distinct` on the predicate's id set PER PROBE (~30 s/q walls were
    dominated by it); a serving deployment evaluates each named filter
    ONCE, stores the deduplicated id list next to the index, and every
    probe/join against that filter reuses the artifact as a tiny
    pre-deduplicated parquet read (which auto-broadcasts when selective)
    — the filter-build/filter-serve split every production vector store
    makes (the same build-once stance as the index itself).

    `key` is the caller's stable name for the predicate (e.g. the
    normalized predicate text); the artifact lives at
    `<index_path>/filters/sha256(key)[:16]/` with the id list under
    `ids/` (distinct, cast to long) and a `meta.json` written LAST as
    the completeness sentinel (same crash-safety convention as the
    index builders: a partial write is detectable, never silently
    probed).  Returns the artifact dir — pass it (the string) as any
    probe's/join's `filter_ids` and `_apply_id_filter` skips the
    per-probe distinct.  Rebuilding the same key overwrites in place.

    `mode`: with "allow" (default) `ids` ARE the allowed ids and serving
    left-semi joins against them; with "deny" `ids` are the EXCLUDED ids
    and serving left-anti joins.  Store whichever side of the predicate
    is SMALLER: an excluding filter over 10% of the corpus is a 90%
    allow set (~16 MB of longs per 2M rows, re-read and re-broadcast
    per probe) but a 10% deny set — the r10 rehearsal measured the
    allow-set read as the whole residual gap at small n_probe.  The
    two modes are exact complements over the posting rows, so results
    are identical for complementary builds (pytest-pinned)."""
    import hashlib
    import json
    import os

    if mode not in ("allow", "deny"):
        raise ValueError(f"build_filter_set: mode must be allow|deny, got {mode!r}")
    digest = hashlib.sha256(key.encode("utf-8")).hexdigest()[:16]
    fdir = os.path.join(index_path, "filters", digest)
    fcol = ids.columns[0]
    meta_path = os.path.join(fdir, "meta.json")
    if os.path.exists(meta_path):
        os.remove(meta_path)
    (
        ids.select(F.col(fcol).cast("long").alias("id"))
        .distinct()
        .write.mode("overwrite")
        .parquet(os.path.join(fdir, "ids"))
    )
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump({"key": key, "id_col": fcol, "mode": mode}, f)
    return fdir


def load_filter_set(spark, index_path: str, key: str) -> str:
    """Resolve a named filter set built by `build_filter_set` to its
    artifact dir (validating completeness) — the serving-side lookup:
    callers address filters by KEY, never by path."""
    import hashlib
    import os

    digest = hashlib.sha256(key.encode("utf-8")).hexdigest()[:16]
    fdir = os.path.join(index_path, "filters", digest)
    _validate_filter_set(fdir)
    return fdir


def _validate_filter_set(fdir: str) -> None:
    import os

    if not os.path.exists(os.path.join(fdir, "meta.json")) or not os.path.exists(
        os.path.join(fdir, "ids", "_SUCCESS")
    ):
        raise ValueError(
            f"filter set at {fdir} is missing or incomplete (no meta.json / "
            "ids/_SUCCESS) — rebuild it with build_filter_set; probing a "
            "partial allow-set would silently drop matches"
        )


def _apply_id_filter(posting: DataFrame, filter_ids) -> DataFrame:
    """PRE-FILTERED ANN: restrict a posting-list scan to an allowed-id
    set before ranking, so top-k counts only rows satisfying the
    caller's metadata predicate (`attrs.where(pred).select(id)`) — the
    filtered-search mode of every production vector store, and the
    semantics a post-filter cannot give (a post-filter returns < k rows
    whenever the unfiltered top-k happens to miss matches; a pre-filter
    ranks within the match set).  Implementation is one left-semi join
    on id against the first column of `filter_ids`, deduplicated so a
    fan-out upstream join cannot multiply posting rows.  The join is
    left to Catalyst/AQE on purpose (unlike the tombstone ids, which
    are read on the driver because purges bound them): a selective
    predicate yields a small set that auto-broadcasts; an unselective
    one yields a large set where a shuffled semi-join is the right
    plan.  Recall note (measured, 2M rehearsal filteredann row): with
    selectivity s the probed cells hold ~s× fewer CANDIDATES, but for a
    geometry-INDEPENDENT filter (id hash, s=10%) recall was flat at
    .988 from n_probe=32 to 320 — the filtered truth is sparser too, so
    no widening was needed; the post-filter strawman scored .112 on the
    same truth.  Widening n_probe toward ~1/s is for filters that
    CORRELATE with geometry (a filter excluding the query's own
    cluster leaves its matches in cells the probe ranks low).  None ->
    scan returned untouched (the zero-join contract plan shape
    survives)."""
    if filter_ids is None:
        return posting
    if isinstance(filter_ids, str):
        # a persisted filter-set dir (build_filter_set): pre-deduplicated
        # at build time, so the per-probe corpus-wide distinct — the
        # dominant cost of the filteredadv rehearsal's inline path — is
        # not re-paid; the read is a pruned scan of just the id column.
        # "deny" artifacts store the predicate's (smaller) complement and
        # anti-join — same answers, a fraction of the broadcast bytes.
        import json
        import os

        _validate_filter_set(filter_ids)
        with open(os.path.join(filter_ids, "meta.json"), encoding="utf-8") as f:
            mode = json.load(f).get("mode", "allow")
        stored = (
            posting.sparkSession.read.parquet(os.path.join(filter_ids, "ids"))
            .select(F.col("id").alias("__allow_id"))
        )
        how = "left_anti" if mode == "deny" else "left_semi"
        return posting.join(stored, posting["id"] == F.col("__allow_id"), how)
    fcol = filter_ids.columns[0]
    allow = filter_ids.select(F.col(fcol).alias("__allow_id")).distinct()
    return posting.join(allow, posting["id"] == F.col("__allow_id"), "left_semi")


def _collect_query_batch(
    queries: DataFrame, qid_col: str, qvec_col: str
) -> tuple[list[int], list[list[float]]]:
    """Collect a kNN-join serving batch ONCE (a serving batch is small by
    definition — it arrives in one RPC) and validate its ids: every
    downstream structure — the literal qid -> LUT map, the broadcast
    (qid, cell) pair rows, the per-qid top-k window — keys on an
    integral, UNIQUE qid.  A float id would silently truncate; a
    duplicate would make `map_from_arrays` fail deep inside codegen (or
    silently drop a query under map dedup policy).  Collecting exactly
    once also means a nondeterministic `queries` plan (sample / limit
    without order) cannot diverge between cell ranking and scoring —
    both derive from this one collect."""
    rows = queries.select(
        F.col(qid_col), F.col(qvec_col).cast("array<double>").alias("__qv")
    ).collect()
    qids: list[int] = []
    for r in rows:
        q = r[qid_col]
        if q is None or float(q) != int(q):
            raise ValueError(
                f"batch kNN join: {qid_col}={q!r} is not an integral query id"
            )
        if not -(1 << 31) <= int(q) < (1 << 31):
            # the residual join keys its LUT map on qid * 2^32 + cell —
            # injective only while |qid| < 2^31 (past that the int64 key
            # wraps / the literal fails deep in codegen); fail loudly at
            # the batch boundary instead
            raise ValueError(
                f"batch kNN join: {qid_col}={q!r} out of range — query ids "
                "must fit int32 (the composite (qid, cell) LUT key is "
                "qid * 2^32 + cell in an int64)"
            )
        qids.append(int(q))
    if len(set(qids)) != len(qids):
        dupes = sorted({q for q in qids if qids.count(q) > 1})
        raise ValueError(
            f"batch kNN join: duplicate {qid_col} values {dupes} in the query batch"
        )
    qvecs = [[float(x) for x in r["__qv"]] for r in rows]
    return qids, qvecs


def _rank_probe_cells(
    cents: DataFrame,
    qids: list[int],
    qvecs: list[list[float]],
    n_probe: int,
    round_digits: int,
    allowed: "dict[int, set[int]] | None" = None,
) -> tuple[list[tuple[int, int]], list[int], dict[int, list[float]]]:
    """Expression reference for `_rank_probe_cells_blas` (which every
    probe and kNN join ranks with): rank a centroid DataFrame for EVERY
    query of a batch in ONE Spark action — one rounded-cosine column per
    query, the fold expressions the SQL oracles replay — and pick each
    query's n_probe cells driver-side under the (sim desc, cell asc)
    total order.  Returns (pairs [(qid, cell)], sorted distinct cell
    list for partition pruning, cell -> centroid-vector map for residual
    LUTs).  Tests pin the BLAS ranker to it on the same rows.

    `allowed` (two-level indexes: qid -> winning group-id set from
    `_probe_centroids`) restricts each query's candidate centroids to
    ITS OWN groups — the scan that produced `cents` is pruned to the
    union of all queries' groups, and without the per-query mask a
    query could rank another query's cells above its own."""
    extra = ["grp"] if allowed is not None else []
    sim_cols = [
        F.round(cosine(F.col("cv"), lit_vector(q)), round_digits).alias(f"__s{i}")
        for i, q in enumerate(qvecs)
    ]
    cent_rows = cents.select("cell", "cv", *extra, *sim_cols).collect()
    pairs: list[tuple[int, int]] = []
    neg_inf = float("-inf")
    for i, qid in enumerate(qids):
        rows_i = (
            cent_rows
            if allowed is None
            else [r for r in cent_rows if int(r["grp"]) in allowed[qid]]
        )
        # a NULL rounded cosine (zero-norm centroid, zero query vector)
        # must sort LAST, matching the single probe's Spark `desc` order
        # (nulls last) — a raw `-r[__s]` key would TypeError on None
        ranked = sorted(
            rows_i,
            key=lambda r: (
                -(r[f"__s{i}"] if r[f"__s{i}"] is not None else neg_inf),
                r["cell"],
            ),
        )
        pairs.extend((qid, int(r["cell"])) for r in ranked[:n_probe])
    cell_list = sorted({c for _q, c in pairs})
    # preserve null components (float(None) would crash the whole batch
    # for one corrupt centroid); a residual caller probing such a cell
    # fails at its own residual arithmetic with the cell named
    cv_by_cell = {
        int(r["cell"]): [None if x is None else float(x) for x in r["cv"]]
        for r in cent_rows
    }
    return pairs, cell_list, cv_by_cell


def _rank_probe_cells_blas(
    cents: "list[dict]",
    qids: list[int],
    qvecs: list[list[float]],
    n_probe: int,
    round_digits: int,
    allowed: "dict[int, set[int]] | None" = None,
) -> tuple[list[tuple[int, int]], list[int], dict[int, list[float]]]:
    """The cell ranker every probe and kNN join uses: the centroid rows
    (cell, cv[, grp]) read on the driver by `_probe_centroids`, then a
    single GEMM cosine over the whole batch with `_round_half_away`
    (F.round's tie rule) and the (sim desc, cell asc) total order via a
    stable argsort over id-sorted rows.  Expression evaluation would be
    one interpreted fold per (cell, query) — at production batches
    (n_q ~ 8-64, n_cells ~ 4*sqrt(n)) the dominant serving cost; here it
    is one O(n_cells * dim * n_q) GEMM.  Boundary caveat as all BLAS
    twins: numpy's pairwise sums differ from the left-to-right fold in
    the last ulp, so a rounded cosine within ~1e-10 of a rounding
    boundary could tip in principle — the DuckDB gate re-hashes every
    contract probe at every driver SF (green), so a tip cannot ship
    silently, and pytest pins it to the expression reference
    `_rank_probe_cells` on the same rows (flat, two-level, tied)."""
    import numpy as np

    rows = sorted(cents, key=lambda r: r["cell"])
    cells = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    grps = (
        np.array([int(r["grp"]) for r in rows], dtype=np.int64)
        if allowed is not None
        else None
    )
    cmat = np.array([[float(x) for x in r["cv"]] for r in rows], dtype=np.float64)
    qmat = np.array(qvecs, dtype=np.float64)
    cn = np.sqrt((cmat * cmat).sum(axis=1))
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    sims = _round_half_away(
        (cmat @ qmat.T) / (cn[:, None] * qn[None, :]), round_digits
    )
    pairs: list[tuple[int, int]] = []
    for i, qid in enumerate(qids):
        col = sims[:, i]
        if grps is not None:
            # two-level: mask out other queries' groups by pushing them
            # past every real sim AND past NaN (nulls-last) — drop them
            # from the candidate index set entirely
            keep = np.array([g in allowed[qid] for g in grps], dtype=bool)
            idx = np.nonzero(keep)[0]
        else:
            idx = np.arange(len(cells))
        # stable sort on -sim: ties keep ascending row index = ascending
        # cell id (rows sorted by cell above); NaN sorts last, matching
        # the expression reference's nulls-last stance
        top = idx[np.argsort(-col[idx], kind="stable")[:n_probe]]
        pairs.extend((qid, int(cells[j])) for j in top)
    cell_list = sorted({c for _q, c in pairs})
    cv_by_cell = {
        int(cells[j]): [float(x) for x in cmat[j]] for j in range(len(cells))
    }
    return pairs, cell_list, cv_by_cell


def ivf_knn_join_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 3,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    round_digits: int = 6,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """BATCH probe of an `ivf_build_index` index — the indexed kNN JOIN:
    every row of `queries` (qid, qvec) gets its top-k from the persisted
    posting lists, with ONE scan amortized across the whole query batch
    (the serving pattern of every production ANN service: requests
    arrive in batches; probing per-query would re-scan the shared cells
    once per request).

    Plan shape: the query batch is COLLECTED once (it is a serving
    batch — driver-sized by definition, and a single collect means a
    nondeterministic `queries` plan cannot diverge between cell ranking
    and scoring); per-query cell ranking is one driver GEMM over the
    centroid rows (`_rank_probe_cells_blas`, no Spark job);
    the posting-list scan reads ONLY the UNION of probed cells
    (partition pruning, the same stance as the single probe); each
    posting row meets the queries probing its cell via a BROADCAST join
    on `cell` (n_q*n_probe rows carrying the query vectors — KBs); the
    only wide exchange is the per-qid top-k window over candidate rows
    (n_probe/n_cells of the corpus x batch overlap).  Skew note: a hot
    cell probed by many queries multiplies its rows by those queries —
    bounded by the batch size, and the window key (qid) redistributes
    before the heavy sort.

    Output: (qid, id_col, cosine_sim), top-k per qid, ties to the
    smaller id — per-query results bit-identical to `ivf_probe_index`
    (asserted in tests)."""
    from pyspark.sql import Window

    qids, qvecs = _collect_query_batch(queries, qid_col, qvec_col)
    cents, allowed = _probe_centroids(path, qids, qvecs, n_probe_groups, round_digits)
    pairs, cell_list, _cv = _rank_probe_cells_blas(
        cents, qids, qvecs, n_probe, round_digits, allowed=allowed
    )
    qv_by_qid = dict(zip(qids, qvecs))
    pair_df = spark.createDataFrame(
        [(q, c, qv_by_qid[q]) for q, c in pairs],
        f"{qid_col} long, cell long, __qv array<double>",
    )
    cells = _apply_id_filter(_read_cells(spark, path, cell_list), filter_ids)
    cand = cells.join(F.broadcast(pair_df), "cell")
    sim = F.round(
        dot(F.col("v"), F.col("__qv"))
        / (F.col("norm") * F.sqrt(dot(F.col("__qv"), F.col("__qv")))),
        round_digits,
    )
    wk = Window.partitionBy(qid_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (
        cand.select(F.col(qid_col), F.col("id").alias(id_col), sim.alias("cosine_sim"))
        .withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_assign_deterministic(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ENCODE with deterministic codebooks — the
    engine-portable twin of pq_fit/pq_encode (whose KMeans codebooks are
    iterative and whose Arrow encode uses BLAS summation): subspace j's
    codebook is the j-th slice of the k smallest-id vectors
    (`_rank_codebooks`), and each vector's code_j is the argmin rounded
    squared distance (ties to the smaller centroid id). Fully relational
    — explode subspaces, join the k-row codebook per subspace, one
    argmin window — so a SQL oracle replays the code assignment
    bit-for-bit.  It is the expression reference for the PQ codes an
    IVF-PQ build stores (`_posting_pass`; a one-cell index is the plain
    PQ store q81 and q88 read).

    Output: (id, subspace, code), m rows per vector. Scale shape: the
    codebook side is m*k rows (broadcast); the window partitions are
    (vector, subspace) — map-side work plus one small shuffle.  `dim` is
    REQUIRED (fail-closed, same contract as build_srp_index /
    embedding_near_dup_pairs): no schema metadata carries array length,
    and a silent `.first()` sniff is a hidden per-invocation driver job —
    callers read the parquet footer-adjacent one-row probe instead."""
    if dim is None:
        raise ValueError(
            "pq_assign_deterministic: dim is required (no schema metadata "
            "carries array length; refusing to run a driver-side .first() "
            "scan — probe the parquet footer instead)"
        )
    sub = dim // m
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    subs = vecs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice(F.col("__v"), j * sub + 1, sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select(id_col, F.col("__s.subspace").alias("subspace"), F.col("__s.sv").alias("sv"))
    # per-side norms hoisted out of the (row, code) cross product — one
    # dot per scored row instead of three, identical rounded d2; the
    # dense per-subspace rank breaks ties in the packed argmin (see
    # lloyd_assign: a struct-min buffer forces SortAggregate over the
    # whole cross product; the packed long hash-aggregates inside the
    # codegen stage)
    subs = subs.withColumn("__ss", dot(F.col("sv"), F.col("sv")))
    cents = _rank_codebooks(df, m, sub, k, id_col, vec_col, round_digits).select(
        "subspace", "code", "sc", F.col("rk").alias("__rk")
    ).withColumn("__cc", dot(F.col("sc"), F.col("sc")))
    d2 = F.round(
        F.col("__ss") - F.lit(2.0) * dot(F.col("sv"), F.col("sc")) + F.col("__cc"),
        round_digits,
    )
    packed = _packed_argmin_key(d2, round_digits)
    scored = subs.join(F.broadcast(cents), "subspace").select(
        id_col, "subspace", "code", (packed + F.col("__rk")).alias("__pk")
    )
    return (
        scored.groupBy(id_col, "subspace")
        .agg(F.min_by(F.col("code"), F.col("__pk")).alias("code"))
    )


def _rank_codebooks(
    df: DataFrame,
    m: int,
    sub: int,
    k: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """The m*k rank-based rounded sub-centroid codebook (subspace, rk,
    code, sc): subspace slices of `df`'s k smallest-id vectors, the
    codebook an IVF-PQ build seeds on the driver, as an expression.
    `pq_assign_deterministic` encodes against it, and the tests' residual
    reference feeds it residual vectors with the coarse-centroid ids
    excluded."""
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cbv"))
    return (
        vecs.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("code"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("subspace"),
                            F.transform(
                                F.slice(F.col("__cbv"), j * sub + 1, sub),
                                lambda x: F.round(x, round_digits),
                            ).alias("sc"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("__c"),
        )
        .select(
            F.col("__c.subspace").alias("subspace"),
            "code",
            F.col("__c.sc").alias("sc"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("subspace").orderBy(F.col("code").asc())
            )
            - F.lit(1),
        )
    )


def pq_encode_with_codebooks(
    df: DataFrame,
    cb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Encode vectors against a FROZEN persisted codebook table
    (subspace, rk, code, sc) — the expression reference for
    `_posting_pass`'s PQ mode, which every IVF-PQ build and stream
    insert encodes through: geometry (m, sub) comes from the codebooks
    (one driver action over m*k rows), the argmin is the same packed
    map-side min_by as pq_assign_deterministic (rounded d2, ties to the
    smaller centroid id via the dense rank), so encoding a tail of the
    corpus against the stored codebooks is bit-identical to rebuilding
    over the union (the stored codebook is rank-based from the k
    smallest ids, which a base build already contains).

    Output: (id, codes array<int>) — packed codebook ranks in subspace
    order, the cells/ row shape of ivfpq_build_index."""
    mrow = cb.agg(F.max("subspace"), F.max(F.size("sc"))).collect()[0]
    m, sub = int(mrow[0]) + 1, int(mrow[1])
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    subs = vecs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice(F.col("__v"), j * sub + 1, sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select(id_col, F.col("__s.subspace").alias("subspace"), F.col("__s.sv").alias("sv"))
    subs = subs.withColumn("__ss", dot(F.col("sv"), F.col("sv")))
    cents = cb.select(
        "subspace", F.col("rk").alias("__rk"), "sc"
    ).withColumn("__cc", dot(F.col("sc"), F.col("sc")))
    d2 = F.round(
        F.col("__ss") - F.lit(2.0) * dot(F.col("sv"), F.col("sc")) + F.col("__cc"),
        round_digits,
    )
    packed = _packed_argmin_key(d2, round_digits)
    scored = subs.join(F.broadcast(cents), "subspace").select(
        id_col, "subspace", "__rk", (packed + F.col("__rk")).alias("__pk")
    )
    ranks = scored.groupBy(id_col, "subspace").agg(
        F.min_by(F.col("__rk"), F.col("__pk")).alias("rk")
    )
    return ranks.groupBy(F.col(id_col).alias("id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "rk"))),
            lambda s: s["rk"].cast("int"),
        ).alias("codes")
    )


def _adc_lut_values(
    cb: DataFrame, query_vecs: list[list[float]], round_digits: int
) -> list[list[list[int]]]:
    """Expression reference for `_adc_lut_values_blas` (which every PQ
    probe and join uses; tests pin the two on the same rows).  Build
    the m x k ADC lookup tables for SEVERAL query vectors from a
    codebooks DataFrame (subspace, rk, sc) in ONE driver action —
    one projection carrying one scaled-d2 column per query, one collect
    over m*k rows (the residual probe needs n_probe LUTs: per-query
    collects would re-scan the same tiny table n_probe times).  Geometry
    (m, sub) comes from the STORE, not the query vector: the store may
    quantize a fixed prefix of a wider corpus (the q81/q88 cross-scale
    stance), and a len-derived width would silently slice wrong.  The d2
    arithmetic stays in SPARK expressions (same F.round semantics the
    oracles replay).  Returns the scaled-bigint table VALUES, one m x k
    nested list per query — callers choose the carrier (inline literal
    map vs broadcast LUT table), which therefore CANNOT diverge in
    values."""
    scale = 10 ** round_digits
    mrow = cb.agg(F.max("subspace"), F.max(F.size("sc"))).collect()[0]
    m, sub = int(mrow[0]) + 1, int(mrow[1])
    cols = []
    for qi, query_vec in enumerate(query_vecs):
        qlits = [
            lit_vector([float(x) for x in query_vec[j * sub : (j + 1) * sub]])
            for j in range(m)
        ]
        qsel = F.array(*qlits)
        qsub = F.element_at(qsel, F.col("subspace") + 1)
        d2 = F.round(
            dot(qsub, qsub)
            - F.lit(2.0) * dot(qsub, F.col("sc"))
            + dot(F.col("sc"), F.col("sc")),
            round_digits,
        )
        cols.append(
            F.round(d2 * F.lit(float(scale)), 0).cast("long").alias(f"sd2_{qi}")
        )
    lut_rows = cb.select("subspace", "rk", *cols).collect()
    out = []
    for qi in range(len(query_vecs)):
        lut: dict[tuple[int, int], int] = {
            (int(r["subspace"]), int(r["rk"])): int(r[f"sd2_{qi}"]) for r in lut_rows
        }
        ks = max(rk for (_j, rk) in lut) + 1
        out.append([[lut[(j, r)] for r in range(ks)] for j in range(m)])
    return out


def _lut_literal(vals: list[list[int]]):
    """One m x k LUT as a literal nested-array Column."""
    return F.array(
        *[F.array(*[F.lit(x).cast("long") for x in row]) for row in vals]
    )


def _codebook_rows(path: str) -> "list[dict]":
    """An IVF-PQ index's codebook rows (subspace, rk, sc), read on the
    driver (`sidecar_rows`)."""
    import os

    return sidecar_rows(os.path.join(path, "codebooks"), ["subspace", "rk", "sc"])


def _adc_lut_values_blas(
    rows: "list[dict]", query_vecs: list[list[float]], round_digits: int
) -> list[list[list[int]]]:
    """The ADC LUT builder every PQ probe and join uses: the m*k
    codebook rows (`_codebook_rows`), then the whole batch's LUTs as a
    single einsum with the expression reference's exact two-stage
    rounding (F.round(d2, digits) then F.round(d2r * scale, 0), both as
    `_round_half_away`).  Expression evaluation builds one scaled-d2
    column PER residual — a residual batch at n_probe=32 is n_q * 32
    interpreted fold columns over the codebook, the second-largest
    serving cost after plan compile (measured: most of a 63s wall at
    8 x 32 on the 2M index).  Same last-ulp boundary caveat as every
    BLAS twin; the contract entries serve through it (oracle-rehashed
    green at every gate SF) and pytest pins it to the expression
    reference `_adc_lut_values` on the same rows."""
    import numpy as np

    scale = 10.0 ** round_digits
    m = max(int(r["subspace"]) for r in rows) + 1
    ks = max(int(r["rk"]) for r in rows) + 1
    sub = max(len(r["sc"]) for r in rows)
    sc = np.zeros((m, ks, sub), dtype=np.float64)
    for r in rows:
        sc[int(r["subspace"]), int(r["rk"])] = [float(x) for x in r["sc"]]
    # geometry comes from the STORE (the q81/q88 cross-scale stance):
    # slice the first m*sub query coords exactly as the expression reference
    qmat = np.array(
        [[float(x) for x in q[: m * sub]] for q in query_vecs], dtype=np.float64
    ).reshape(len(query_vecs), m, sub)
    qq = (qmat * qmat).sum(axis=2)  # n_q x m
    ss = (sc * sc).sum(axis=2)  # m x ks
    qs = np.einsum("qjd,jrd->qjr", qmat, sc)  # n_q x m x ks
    d2 = _round_half_away(qq[:, :, None] - 2.0 * qs + ss[None, :, :], round_digits)
    vals = _round_half_away(d2 * scale, 0).astype(np.int64)
    return [
        [[int(vals[q, j, r]) for r in range(ks)] for j in range(m)]
        for q in range(len(query_vecs))
    ]


def _round_half_away(x, digits: int):
    """Elementwise round-half-away-from-zero at `digits` decimals over a
    numpy array, as floor(|x|·10^digits + 0.5) / 10^digits on the
    double itself.  That is DuckDB's round() bit for bit (all 6000 of
    the near-midpoint doubles of
    test_spark_round_matches_f_round_near_midpoints, DuckDB 1.0.0), but
    NOT Spark's F.round, which rounds the shortest decimal string
    (`_spark_round`; 74 of those 6000 differ).  The BLAS twins and
    `rotate_vectors` use it; the one-pass kernel (`_posting_pass`)
    rounds with `_spark_round`.  np.round's bankers rounding would
    differ again at exact decimal midpoints."""
    import numpy as np

    s = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def _spark_round(x, digits: int):
    """`F.round(x, digits)` over a numpy array, bit for bit.  Spark
    rounds the double's shortest decimal string HALF_UP
    (`BigDecimal.valueOf`), which `_round_half_away`'s scaled floor
    misses when |x|·10^digits lands a few ulps from a .5: of 60 000
    doubles within an ulp of a 6-dp midpoint, 683 rounded the other
    way.  Those few are redone with
    `decimal` on the same string; the rest agree on the vectorized
    path.  Spark has no -0.0 result, so neither has this."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    y = np.abs(x) * 10.0 ** digits
    out = _round_half_away(x, digits)
    near = (y < 2.0 ** 52) & (np.abs(y - np.floor(y) - 0.5) <= 8 * np.spacing(y))
    if near.any():
        q = Decimal(1).scaleb(-digits)
        out[near] = [
            float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP)) for v in x[near]
        ]
    return out + 0.0


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Apply a fixed dim x dim rotation to every vector: X -> round(X @ R).
    One Arrow-batched float64 GEMM per batch (mapInPandas + BLAS) — a
    256-dim rotation is 65k multiplies per row, far past what an
    expression fold should do.  Per-row output depends only on that row
    and the broadcast R, so the result is deterministic under any
    partitioning (the property the OPQ stream==batch parity test leans
    on).  Output keeps the caller's column names."""
    import numpy as np

    rot = np.asarray(rotation, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(rot)

    def gemm(batches):
        import pandas as pd

        r = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["__v"].tolist(), dtype=np.float64)
            y = _round_half_away(x @ r, round_digits)
            yield pd.DataFrame({id_col: pdf[id_col], "__v": [v.tolist() for v in y]})

    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    out = vecs.mapInPandas(gemm, schema=f"{id_col} long, __v array<double>")
    return out.withColumnRenamed("__v", vec_col)


def opq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int | None = None,
    iters: int = 8,
    sample_rows: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 90210,
) -> list[list[float]]:
    """Train an OPQ rotation (Ge, He, Ke, Sun, CVPR 2013 "Optimized
    Product Quantization" — the non-parametric OPQ-NP alternation): find
    the orthogonal R minimizing PQ reconstruction distortion of X @ R by
    alternating (1) fit per-subspace k-means codebooks on the rotated
    sample, (2) solve the orthogonal Procrustes problem R = U V^T from
    SVD(X^T X_hat).  PQ's subspace split is arbitrary w.r.t. the data's
    principal directions; the learned rotation re-balances variance
    across subspaces so the m independent codebooks stop wasting codes on
    correlated coordinates.

    Training is DRIVER-SIDE numpy on a deterministic sample (the
    `sample_rows` smallest ids — orderBy(id).limit, so every engine
    draws the same rows): the rotation is dim^2 floats learned from a
    bounded sample, exactly how production OPQ deployments train (FAISS
    OPQMatrix trains on ~2^16 vectors regardless of corpus size); the
    ENCODING of the full corpus stays distributed (rotate_vectors +
    the ivfpq build).  Deterministic: fixed seed, fixed iteration
    counts, no data-dependent stopping.

    Measured honestly (tools/measure_pq_recall.py, m=16, k=16,
    n_probe=8/64, exact-L2 top-10 ground truth), on TWO clustered
    fixtures that isolate when the rotation pays:

    - isotropic within-cluster noise (--clustered): raw 0.140 -> OPQ
      0.150 (+7% rel); residual 0.202 -> OPQ+residual 0.204 (~flat) —
      once the coarse quantizer strips the center there is no
      cross-subspace correlation left for a rotation to rebalance;
    - ANISOTROPIC within-cluster noise (--clustered --anisotropy=1.0,
      rank^-1 eigen-decay through a random basis — the local structure
      real embedding models produce): raw 0.304 -> OPQ 0.386 (+27%
      rel); residual 0.458 -> OPQ+residual 0.534 (+17% rel) — the full
      textbook ladder raw < OPQ < residual < OPQ+residual.

    Plumbing cost: one GEMM at build, zero probe-time I/O or joins
    (the q94 oracle contract replays rotation + IVFADC end-to-end)."""
    import numpy as np

    if dim is None:
        raise ValueError("opq_train: dim is required (fail-closed, as pq_fit)")
    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(sample_rows)
        .select(F.col(vec_col).cast("array<double>").alias("__v"))
        .collect()
    )
    x = np.array([r["__v"] for r in rows], dtype=np.float64)
    if x.shape[1] != dim:
        raise ValueError(f"opq_train: corpus dim {x.shape[1]} != declared dim {dim}")
    return opq_train_np(x, m=m, k=k, iters=iters, seed=seed)


def opq_train_np(x: "object", m: int, k: int, iters: int = 8, seed: int = 90210):
    """The engine-free numpy core of `opq_train` (OPQ-NP alternation on an
    in-memory sample) — shared by the Spark trainer and the oracle-side
    rotation derivation (both must produce the SAME R from the same
    sample, or the q94 hash gate would compare different indexes)."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    dim = x.shape[1]
    sub = dim // m
    r = np.eye(dim)

    def _kmeans(s: "np.ndarray", kk: int, sd: int) -> "np.ndarray":
        kr = np.random.RandomState(sd)
        cents = s[kr.choice(len(s), size=min(kk, len(s)), replace=False)]
        for _ in range(15):
            d2 = ((s[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(len(cents)):
                mask = a == c
                if mask.any():
                    cents[c] = s[mask].mean(axis=0)
        return cents

    for _ in range(iters):
        y = x @ r
        xhat = np.empty_like(y)
        for j in range(m):
            s = y[:, j * sub : (j + 1) * sub]
            cents = _kmeans(s, k, seed + 17 * j)
            d2 = ((s[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            xhat[:, j * sub : (j + 1) * sub] = cents[d2.argmin(axis=1)]
        u, _sv, vt = np.linalg.svd(x.T @ xhat)
        r = u @ vt
    return [[float(v) for v in row] for row in r]


def ivfpq_build_index(
    df: DataFrame,
    path: str,
    n_cells: "int | str" = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    dim: int | None = None,
    by_residual: bool = False,
    coarse_centroids: DataFrame | None = None,
    opq_rotation: list[list[float]] | None = None,
    n_groups: "int | str | None" = None,
    assign_via_groups: bool = False,
    assign_g_probe: int = 1,
    group_train_iters: int = 0,
    layout: str = "dirs",
) -> None:
    """Persist the combined IVF-PQ index (Jegou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search" — the IVFADC
    system layout, here with raw-vector PQ rather than residual PQ so the
    codes stay engine-replayable): posting lists hold PQ CODES, not
    vectors, PARTITIONED BY the IVF cell.  This is the canonical
    billion-vector serving shape — a probe reads n_probe/n_cells of the
    corpus (partition pruning) and scores it at ~dim*8/m bytes per vector
    (code ranks vs raw doubles) with pure BIGINT LUT arithmetic; neither
    the vector table nor any join appears on the probe path.

    Writes three parquet tables under `path`:

    - ``cells/``      (id, codes array<int>) PARTITIONED BY cell — the
      deterministic Lloyd cell (ivf_build_index's assignment) carrying
      the m per-subspace codebook RANKS in subspace order (dense 0..k-1,
      not the raw centroid id: ranks index straight into the probe's
      literal lookup table);
    - ``centroids/``  (cell, cv) — the n_cells rank-based rounded coarse
      centroids the probe ranks;
    - ``codebooks/``  (subspace, rk, code, sc) — the m*k PQ sub-centroids
      the probe builds its ADC LUT from.

    Build cost: one seed collect and one pass over the corpus (coarse
    assignment and PQ encode together), paid once per corpus (the
    build/probe split of q87/q88, fused).

    `n_cells=1` is the plain PQ store (IVFADC with one coarse cell):
    every vector lands in the one cell and the stored codes are
    `pq_assign_deterministic`'s, so q81's code census and q88's ADC
    probe (`n_probe=1`) read a one-cell index.

    `by_residual=True` is the FAISS-default IVFADC refinement: the PQ
    quantizes the RESIDUAL r = v - centroid[cell] instead of the raw
    vector, so the codebook budget spends its resolution on the part of
    the vector the coarse quantizer didn't already explain.  Measured on
    the sf0.001 fixture with trained (KMeans) coarse centroids: mean
    reconstruction distortion 0.752 -> 0.672 (-11%, the distortion gate
    in tests/test_similarity.py); top-10 recall itself is a wash there —
    the fixture's embeddings are isotropic Gaussians with no cluster
    structure for the coarse quantizer to strip.  On clustered real
    corpora the distortion gap is what turns into recall.  The probe
    builds one ADC LUT PER PROBED CELL (the query residual differs per
    cell) — still literal arithmetic, n_probe * m * k longs keyed by a
    map literal on `cell`.  Everything stays deterministic (residuals of
    rounded centroids, rank-based residual codebooks), just not
    SQL-oracle'd — the raw variant remains the contract path (q92).

    `coarse_centroids` (cell, cv) swaps the rank-based coarse quantizer
    for a TRAINED one (e.g. ivf_fit's KMeans centers).  Residual PQ only
    pays off with trained centroids — against arbitrary rank-based ones
    the residuals are no smaller than the vectors and the refinement is
    a wash (measured in tests/test_similarity.py); with KMeans cells the
    residual norms shrink and the same codebook budget buys visibly
    higher recall.  Measured on the CLUSTERED mixture-of-Gaussians
    fixture (tools/make_scale.py --clustered: 21k vectors, 256-dim, 64
    true clusters; KMeans coarse, m=16, k=16, n_probe=8, exact-L2
    ground truth, tools/measure_pq_recall.py): top-10 recall raw 0.140
    -> by_residual 0.202 — the gain the isotropic fixture could not
    show.

    `opq_rotation` (dim x dim, from `opq_train`) is the next rung (Ge et
    al. 2013): the whole index lives in the ROTATED space — vectors are
    rotated before coarse assignment and PQ encoding (rotation is an
    isometry, so trained-on-unrotated coarse centroids stay valid once
    rotated alongside, which the build does automatically), the rotation
    is persisted as a `rotation/` table, and the probe rotates the query
    before ranking cells or building LUTs.  Composes with by_residual.

    The build is a bulk insert, the same steps as `ivfpq_stream_insert`:
    the coarse centroids and the rank-based codebooks are derived on the
    driver from the (k + n_cells) smallest-id vectors (`_seed_rows`; a
    residual codebook's seeds take their cells from the pass's own
    quantizer), and every posting row comes from one Arrow pass
    (`_posting_pass`, PQ mode), which replays `lloyd_assign` and
    `pq_encode_with_codebooks` bit for bit.  The tables are staged in
    new generations, meta.json is rewritten, and the tables are
    published with codebooks/ (the completeness sentinel) last
    (`_publish_build`); a null or misshapen vector raises the pass's
    ValueError before anything is published."""
    import os

    import numpy as np

    if dim is None:
        raise ValueError(
            "ivfpq_build_index: dim is required (same fail-closed contract "
            "as pq_assign_deterministic — probe the parquet footer instead)"
        )
    n_cells = _resolve_n_cells(df, n_cells)
    n_groups = _resolve_n_groups(n_cells, n_groups, assign_via_groups)
    spark = df.sparkSession
    writes = []
    if opq_rotation is not None:
        # the index lives in rotated space: rotate the corpus (BLAS,
        # distributed) and any caller-trained coarse centroids (an
        # isometry maps KMeans cells to the same cells of rotated data);
        # persist R so probes and stream inserts rotate the same way
        rotation = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(opq_rotation)],
            "pos int, row array<double>",
        ).coalesce(1)
        writes.append((os.path.join(path, "rotation"), lambda gen: rotation.write.parquet(gen)))
        df = rotate_vectors(df, opq_rotation, id_col, vec_col, round_digits)
    trained = coarse_centroids is not None
    ids, x = _seed_rows(df, k if trained else n_cells + k, id_col, vec_col)
    if trained:
        cc = coarse_centroids.select(
            F.col("cell").cast("long"), F.col("cv").cast("array<double>")
        ).collect()
        cv = _vector_matrix([r[1] for r in cc])
        if opq_rotation is not None:
            rot = np.asarray(opq_rotation, dtype=np.float64)
            cv = _round_half_away(np.array([v @ rot for v in cv]), round_digits)
        cents = _cell_rows([r[0] for r in cc], _spark_round(cv, round_digits))
    else:
        cents = _cell_rows(ids[:n_cells], _spark_round(x[:n_cells], round_digits))
    cents, groups, cent_writes = _centroid_tables(
        spark, path, cents, n_groups, round_digits, group_train_iters
    )
    pruned = {"groups": groups, "g_probe": assign_g_probe} if assign_via_groups else {}
    if by_residual:
        _cells, cmat, assign = _quantizer(cents, round_digits, **pruned)
        x = x - cmat[assign(x)]
        if not trained:
            # On the RANK-BASED path the n_cells smallest ids ARE the
            # coarse centroids (cell label == vector id), so their
            # residuals are ~0 and a codebook seeded from them would be
            # degenerate — seed from the k smallest NON-centroid ids.
            # Trained cell labels are not vector ids and no vector has a
            # near-zero residual, so no exclusion applies.
            ids, x = ids[n_cells:], x[n_cells:]
    sub = dim // m
    sc = _spark_round(x[:k, : m * sub], round_digits)
    codebooks = [
        {"subspace": j, "rk": rk, "code": code, "sc": sc[rk, j * sub : (j + 1) * sub].tolist()}
        for j in range(m)
        for rk, code in enumerate(ids[:k])
    ]
    rows = _posting_pass(
        df, cents, id_col, vec_col, round_digits,
        codebooks=codebooks, by_residual=by_residual, **pruned,
    )
    cb = spark.createDataFrame(
        [(r["subspace"], r["rk"], r["code"], r["sc"]) for r in codebooks],
        "subspace int not null, rk int not null, code long, sc array<double>",
    ).coalesce(1)
    _publish_build(
        path,
        [
            _posting_write(rows, path, layout),
            *writes,
            *cent_writes,
            (os.path.join(path, "codebooks"), lambda gen: cb.write.parquet(gen)),
        ],
        meta={
            "by_residual": by_residual,
            "m": m,
            "k": k,
            "dim": dim,
            "opq": opq_rotation is not None,
            "n_groups": n_groups,
            "group_train_iters": group_train_iters,
        },
    )


def _ivfpq_meta(path: str) -> dict:
    """Read an IVF-PQ index's meta.json — FAIL CLOSED: a missing sidecar
    means the index predates the meta contract or was copied without it,
    and silently assuming raw-vector encoding would mis-score a residual
    index with no error (probes) or permanently corrupt posting lists
    (stream inserts)."""
    import json
    import os

    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"ivfpq index at {path} has no meta.json — refusing to guess "
            "the encoding (raw vs residual); rebuild with ivfpq_build_index"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    meta["by_residual"] = bool(meta.get("by_residual", False))
    meta["opq"] = bool(meta.get("opq", False))
    return meta


def _ivfpq_rotation(path: str) -> "list[list[float]]":
    """Load an OPQ index's persisted rotation as a dense dim x dim list
    (dim rows, read on the driver via sidecar_rows — no Spark job)."""
    import os

    rows = sorted(
        sidecar_rows(os.path.join(path, "rotation"), ["pos", "row"]),
        key=lambda r: r["pos"],
    )
    return [[float(v) for v in r["row"]] for r in rows]


def ivfpq_probe_index(
    spark,
    path: str,
    query_vec: list[float],
    k_top: int,
    n_probe: int = 3,
    id_col: str = "vec_id",
    round_digits: int = 6,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """Probe an `ivfpq_build_index` index: rank the persisted coarse
    centroids by rounded query-cosine (ties to the smaller cell — a
    driver GEMV over n_cells rows, `_probe_cells`), build the ADC LUT
    from the persisted codebooks (a driver einsum over m*k rows,
    `_adc_lut_values_blas`), then scan ONLY the n_probe winning cells'
    partitions scoring each code row with the literal-LUT BIGINT sum —
    scan -> project -> TakeOrdered, zero joins, I/O = n_probe/n_cells of
    the CODES (not vectors).  Output: (id_col, adist), ascending
    approximate distance, ties to smaller id.

    A `by_residual` index (see ivfpq_build_index) is detected from the
    stored meta.json: the probe then builds one LUT PER PROBED CELL from
    the query residual q - centroid[cell] and selects the row's LUT via
    a map literal keyed on `cell` — still zero joins, n_probe * m * k
    literal longs."""
    scale = 10 ** round_digits
    meta = _ivfpq_meta(path)
    if meta["opq"]:
        # the index lives in rotated space: rotate the query the same way
        # (driver-side — one dim x dim GEMV), then everything downstream
        # (cell ranking, LUTs, residuals) is unchanged
        import numpy as np

        rot = np.asarray(_ivfpq_rotation(path), dtype=np.float64)
        query_vec = [
            float(v)
            for v in _round_half_away(
                np.asarray(query_vec, dtype=np.float64) @ rot, round_digits
            )
        ]
    # two-level indexes rank level-1 groups first (in rotated space —
    # the whole index lives there) and prune the centroid read
    probe, cv_by_cell = _probe_cells(
        path, query_vec, n_probe, n_probe_groups, round_digits
    )
    cb = _codebook_rows(path)
    if meta["by_residual"]:
        luts = [
            _lut_literal(v)
            for v in _adc_lut_values_blas(
                cb,
                [
                    [float(q) - float(c) for q, c in zip(query_vec, cv_by_cell[cell])]
                    for cell in probe
                ],
                round_digits,
            )
        ]
        cell_lut = F.map_from_arrays(
            F.array(*[F.lit(c).cast("long") for c in probe]), F.array(*luts)
        )
        lut_col = F.element_at(cell_lut, F.col("cell").cast("long"))
    else:
        lut_col = _lut_literal(
            _adc_lut_values_blas(cb, [list(query_vec)], round_digits)[0]
        )
    codes = _apply_id_filter(_read_cells(spark, path, probe), filter_ids)
    ssum = F.aggregate(
        F.zip_with(lut_col, F.col("codes"), lambda row, c: F.element_at(row, c + 1)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    adist = F.round(ssum / F.lit(float(scale)), round_digits)
    return (
        codes.select(F.col("id").alias(id_col), adist.alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k_top)
    )


def ivfpq_knn_join_index(
    spark,
    path: str,
    queries: DataFrame,
    k_top: int,
    n_probe: int = 3,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    round_digits: int = 6,
    lut_literal_max_probe: int = 16,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """BATCH ADC probe of an `ivfpq_build_index` index — q96's
    amortized-scan kNN join applied to the PQ-coded posting lists (the
    billion-vector serving batch): ONE partition-pruned scan of the
    union of all queries' probed cells, each code row scored against
    every query probing its cell via a LITERAL map qid -> ADC LUT
    (n_q * m * k longs — KBs for a serving batch), one wide exchange =
    the per-qid top-k window.

    The query batch is COLLECTED to the driver (a serving batch is
    small by definition — it has to fit in one RPC) to build the LUT
    literals; cell ranking and LUT values run on the driver over the
    sidecar-read centroid and codebook rows (`_rank_probe_cells_blas`,
    `_adc_lut_values_blas` — one GEMM and one einsum for the batch,
    the rankers the single probe uses).  All three index
    flavors are supported: raw, OPQ (the collected queries are rotated
    driver-side), and `by_residual` — the residual query r = q -
    centroid[cell] differs PER PROBED CELL, so the LUT keys on the
    composite (qid, cell) pair instead of qid alone: n_q * n_probe LUTs
    of m*k longs each, zero LUT joins (the FAISS IVFADC batch-serving
    shape).

    Residual LUT carrier: up to `lut_literal_max_probe` probed cells
    per query the LUTs ride as an INLINE literal map (zero extra plan
    nodes); past that the inline shape stops being free — at the
    n_probe=32 / n_cells~4*sqrt(n) configuration the 2M recall ladder
    says production serving needs, n_q * 32 * m * k inline longs cost
    ~24s/query of Catalyst plan COMPILE (r8 measurement) — so the LUTs
    ride as a COLUMN of the broadcast (qid, cell) pair rows instead:
    same values from the same `_adc_lut_values_blas` call, same single
    broadcast hash join (the LUT column is just extra broadcast
    payload, n_q * n_probe * m * k longs — still KBs), bit-identical
    output (asserted in tests/test_plans.py)."""
    from pyspark.sql import Window

    meta = _ivfpq_meta(path)
    scale = 10 ** round_digits
    qids, qvecs = _collect_query_batch(queries, qid_col, qvec_col)
    if meta["opq"]:
        import numpy as np

        rot = np.asarray(_ivfpq_rotation(path), dtype=np.float64)
        qvecs = [
            [float(v) for v in _round_half_away(np.asarray(q) @ rot, round_digits)]
            for q in qvecs
        ]

    cents, allowed = _probe_centroids(path, qids, qvecs, n_probe_groups, round_digits)
    pairs, cell_list, cv_by_cell = _rank_probe_cells_blas(
        cents, qids, qvecs, n_probe, round_digits, allowed=allowed
    )
    cb = _codebook_rows(path)
    codes = _apply_id_filter(_read_cells(spark, path, cell_list), filter_ids)
    pair_schema = f"{qid_col} long, cell long"
    if meta["by_residual"]:
        # one LUT per (qid, cell): the query residual q - centroid[cell]
        # is what the stored codes quantized against.
        qv_by_qid = dict(zip(qids, qvecs))
        residuals = [
            [float(a) - float(b) for a, b in zip(qv_by_qid[q], cv_by_cell[c])]
            for q, c in pairs
        ]
        lut_vals = _adc_lut_values_blas(cb, residuals, round_digits)
        if n_probe > lut_literal_max_probe:
            # broadcast LUT TABLE: the per-(qid, cell) tables ride the
            # pair rows the join already broadcasts — no plan literals,
            # no extra join, values identical to the literal map's
            pair_df = spark.createDataFrame(
                [(q, c, lut_vals[i]) for i, (q, c) in enumerate(pairs)],
                f"{pair_schema}, __lut array<array<long>>",
            )
            cand = codes.join(F.broadcast(pair_df), "cell")
            lut_col = F.col("__lut")
        else:
            # inline literal map keyed on qid * 2^32 + cell (injective:
            # cells are non-negative ints < 2^32; qids int32-validated)
            pair_df = spark.createDataFrame(pairs, pair_schema)
            cand = codes.join(F.broadcast(pair_df), "cell")
            key_base = 1 << 32
            pair_lut = F.map_from_arrays(
                F.array(*[F.lit(q * key_base + c).cast("long") for q, c in pairs]),
                F.array(*[_lut_literal(v) for v in lut_vals]),
            )
            lut_col = F.element_at(
                pair_lut,
                F.col(qid_col).cast("long") * F.lit(key_base)
                + F.col("cell").cast("long"),
            )
    else:
        pair_df = spark.createDataFrame(pairs, pair_schema)
        cand = codes.join(F.broadcast(pair_df), "cell")
        luts = [_lut_literal(v) for v in _adc_lut_values_blas(cb, qvecs, round_digits)]
        qid_lut = F.map_from_arrays(
            F.array(*[F.lit(q).cast("long") for q in qids]), F.array(*luts)
        )
        lut_col = F.element_at(qid_lut, F.col(qid_col))
    ssum = F.aggregate(
        F.zip_with(lut_col, F.col("codes"), lambda row, c: F.element_at(row, c + 1)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    adist = F.round(ssum / F.lit(float(scale)), round_digits)
    wk = Window.partitionBy(qid_col).orderBy(F.col("adist").asc(), F.col(id_col).asc())
    return (
        cand.select(F.col(qid_col), F.col("id").alias(id_col), adist.alias("adist"))
        .withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k_top)
        .drop("__rn")
    )


def sq_fit(
    df: DataFrame, dim: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension (pos, mn, mx) quantization bounds over the first
    `dim` coordinates — the training pass of 8-bit scalar quantization
    (FAISS IndexScalarQuantizer QT_8bit; the rung between raw vectors
    and PQ: 8 bytes/dim -> 1 byte/dim with NO codebook, every step plain
    arithmetic a SQL engine replays exactly).  Scale shape: posexplode
    fans n*dim rows but the min/max agg combines map-side, so the
    exchange carries partitions x dim rows, not the corpus."""
    v = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    return (
        df.select(F.posexplode(v).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )


def _sq_encode_expr(vec64, mn: list[float], mx: list[float]):
    """codes[j] = clamp(floor(((x-mn)/(mx-mn)) * 256), 0, 255) — the
    expression tree mirrors the oracle SQL operation-for-operation so
    IEEE float64 results are bit-identical (no reassociation)."""
    rng = [float(b) - float(a) for a, b in zip(mn, mx)]
    z1 = F.zip_with(vec64, lit_vector([float(a) for a in mn]), lambda x, m: x - m)
    return F.zip_with(
        z1,
        lit_vector(rng),
        lambda t, r: F.when(r == F.lit(0.0), F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.floor(t / r * F.lit(256.0)).cast("int")),
            )
        ).cast("int"),
    )


def _sq_encode_np(x, mn: list[float], mx: list[float]):
    """`_sq_encode_expr` over a numpy (n, dim) batch, operation for
    operation, so the codes are bit-identical.  A vector so far out of
    range that its code overflows an int clamps here, where the
    expression's int cast fails (ANSI mode, Spark's default)."""
    import numpy as np

    lo = np.array(mn, dtype=np.float64)
    rng = np.array(mx, dtype=np.float64) - lo
    with np.errstate(divide="ignore", invalid="ignore"):
        codes = np.clip(np.floor((x - lo) / rng * 256.0), 0, 255)
    return np.where(rng == 0.0, 0, codes).astype(np.int32)


def ivfsq_build_index(
    df: DataFrame,
    path: str,
    n_cells: "int | str" = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_groups: "int | str | None" = None,
    assign_via_groups: bool = False,
    assign_g_probe: int = 1,
    group_train_iters: int = 0,
    layout: str = "dirs",
) -> None:
    """Persist the IVF-SQ8 index: posting lists of 8-bit SCALAR-quantized
    codes partitioned by the deterministic Lloyd cell — the FAISS
    IVF+SQ8 layout, sitting between q80's raw-vector posting lists
    (8 bytes/dim) and q92's PQ codes (0.5 bit/dim at m=8,k=16): 1
    byte/dim, no codebook, and — unlike PQ — an encode/decode that is
    PLAIN AFFINE ARITHMETIC, so the entire index (bounds, codes, probe
    ranking) replays in ANSI SQL with zero training state beyond 2*dim
    floats.

    Tables under `path`: ``cells/`` (id, codes array<int>) PARTITIONED
    BY cell; ``centroids/`` (cell, cv) the rank-based coarse quantizer;
    ``sq/`` (pos, mn, mx) the per-dimension bounds.  Like every
    IVF-family build it is a bulk insert: one pass over the corpus for
    the bounds (`sq_fit`), then the posting rows from one Arrow pass
    (`_posting_pass`, SQ mode: `lloyd_assign`'s cells and
    `_sq_encode_expr`'s codes, bit for bit).  The tables are staged,
    meta.json is rewritten after the old sentinel is dropped, and the
    tables are published with centroids/ last (`_publish_build`, the
    same rebuild-crash contract as ivfpq_build_index); completeness =
    meta.json + centroids/_SUCCESS.  A null or misshapen vector raises
    the pass's ValueError before anything is published, leaving an
    index already at `path` as it was.

    Measured on the clustered fixtures (256-dim, n_probe=8/64, exact-L2
    top-10 ground truth): recall@10 0.950 (isotropic) / 0.986
    (anisotropic) — vs PQ-at-16-bytes' 0.140-0.534 ladder, at 16x the
    storage (256 bytes/vector).  The classic accuracy-for-bytes trade:
    SQ8 when the posting lists fit, PQ(+OPQ/residual) when they
    don't."""
    import os

    if dim is None:
        raise ValueError("ivfsq_build_index: dim is required (fail-closed)")
    n_cells = _resolve_n_cells(df, n_cells)
    n_groups = _resolve_n_groups(n_cells, n_groups, assign_via_groups)
    spark = df.sparkSession
    ids, x = _seed_rows(df, n_cells, id_col, vec_col)
    cents, groups, cent_writes = _centroid_tables(
        spark, path, _cell_rows(ids, _spark_round(x, round_digits)),
        n_groups, round_digits, group_train_iters,
    )
    bounds = sorted(
        sq_fit(df, dim, id_col=id_col, vec_col=vec_col).collect(), key=lambda r: r["pos"]
    )
    sq = spark.createDataFrame(
        [(r["pos"], r["mn"], r["mx"]) for r in bounds], "pos int not null, mn double, mx double"
    ).coalesce(1)
    sq_bounds = ([float(r["mn"]) for r in bounds], [float(r["mx"]) for r in bounds])
    pruned = {"groups": groups, "g_probe": assign_g_probe} if assign_via_groups else {}
    rows = _posting_pass(df, cents, id_col, vec_col, round_digits, sq_bounds=sq_bounds, **pruned)
    _publish_build(
        path,
        [
            _posting_write(rows, path, layout),
            (os.path.join(path, "sq"), lambda gen: sq.write.parquet(gen)),
            *cent_writes,
        ],
        meta={
            "kind": "ivfsq",
            "dim": dim,
            "n_groups": n_groups,
            "group_train_iters": group_train_iters,
        },
    )


def _sq_bounds(path: str) -> tuple[list[float], list[float]]:
    """An SQ8 index's per-dimension (mn, mx) bounds, read on the driver
    (`sidecar_rows`)."""
    import os

    rows = sorted(
        sidecar_rows(os.path.join(os.fspath(path), "sq"), ["pos", "mn", "mx"]),
        key=lambda r: r["pos"],
    )
    return [float(r["mn"]) for r in rows], [float(r["mx"]) for r in rows]


def ivfsq_probe_index(
    spark,
    path: str,
    query_vec: list[float],
    k_top: int,
    n_probe: int = 3,
    id_col: str = "vec_id",
    round_digits: int = 6,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """Probe an `ivfsq_build_index` index: rank the stored coarse
    centroids by rounded query-cosine (full-dim, on the driver —
    `_probe_cells`), then scan ONLY the
    n_probe winning cells' partitions scoring each code row with the
    asymmetric SQ distance sum_j (q_j - xhat_j)^2 where
    xhat_j = mn_j + (code_j + 0.5) * (mx_j - mn_j)/256 — decode + score
    fused into one zip_with/aggregate expression over literal bounds
    (2*dim doubles), per-term rounded and scaled to BIGINT so the sum is
    accumulation-order-free.  scan -> project -> TakeOrdered, zero
    joins, I/O = n_probe/n_cells of the CODES.  Output (id_col, adist)
    ascending, ties to the smaller id."""
    import json
    import os  # noqa: F811 — module style keeps os imports function-local

    with open(os.path.join(path, "meta.json")) as f:
        dim = int(json.load(f)["dim"])
    scale = 10 ** round_digits
    probe, _cv = _probe_cells(path, query_vec, n_probe, n_probe_groups, round_digits)
    mn, mx = _sq_bounds(path)
    q64 = [float(x) for x in query_vec[:dim]]
    delta = [(b - a) / 256.0 for a, b in zip(mn, mx)]
    codes = _apply_id_filter(_read_cells(spark, path, probe), filter_ids)
    # op-for-op the oracle's tree: t=(c+0.5)*delta; xhat=mn+t; err=q-xhat
    z1 = F.zip_with(
        F.col("codes"),
        lit_vector(delta),
        lambda c, d: (c.cast("double") + F.lit(0.5)) * d,
    )
    xhat = F.zip_with(z1, lit_vector(mn), lambda t, m: m + t)
    terms = F.zip_with(
        lit_vector(q64),
        xhat,
        lambda qq, xh: F.round(
            F.round((qq - xh) * (qq - xh), round_digits) * F.lit(float(scale)), 0
        ).cast("long"),
    )
    ssum = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
    adist = F.round(ssum / F.lit(float(scale)), round_digits)
    return (
        codes.select(F.col("id").alias(id_col), adist.alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k_top)
    )


def ivfsq_knn_join_index(
    spark,
    path: str,
    queries: DataFrame,
    k_top: int,
    n_probe: int = 3,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    round_digits: int = 6,
    n_probe_groups: int = 3,
    filter_ids: "DataFrame | str | None" = None,
) -> DataFrame:
    """BATCH probe of an `ivfsq_build_index` index — the amortized-scan
    kNN join (ivf_knn_join_index's shape) over 8-bit scalar-quantized
    posting lists.  The SQ8 decode xhat = mn + (code + 0.5) * delta is
    query-INDEPENDENT affine arithmetic, so unlike PQ's per-query LUTs
    the batch needs nothing per-query beyond the query vector itself:
    the broadcast (qid, cell) pair rows carry each query's first-dim
    slice and the fused decode+score expression reads it as a COLUMN —
    op-for-op the single probe's tree (z1 = (c+0.5)*delta; xhat = mn+t;
    err = q-xhat; per-term scaled-BIGINT rounding), so IEEE float64
    results are bit-identical to `ivfsq_probe_index` per query
    (asserted in tests).

    Plan: one driver GEMM ranks the centroid rows for the whole batch
    (full-dim cosine, same total order as the single probe); ONE
    partition-pruned scan of the union of probed cells; one broadcast
    hash join on `cell`; one per-qid top-k window — the only wide
    exchange.  Output (qid, id_col, adist), ascending approximate
    distance per qid, ties to the smaller id."""
    import json
    import os

    from pyspark.sql import Window

    with open(os.path.join(path, "meta.json")) as f:
        dim = int(json.load(f)["dim"])
    scale = 10 ** round_digits
    qids, qvecs = _collect_query_batch(queries, qid_col, qvec_col)
    cents, allowed = _probe_centroids(path, qids, qvecs, n_probe_groups, round_digits)
    # cell ranking uses the FULL query vector (the single probe's
    # stance); scoring uses the first `dim` coordinates the codes cover
    pairs, cell_list, _cv = _rank_probe_cells_blas(
        cents, qids, qvecs, n_probe, round_digits, allowed=allowed
    )
    mn, mx = _sq_bounds(path)
    delta = [(b - a) / 256.0 for a, b in zip(mn, mx)]
    q64_by_qid = {q: [float(x) for x in v[:dim]] for q, v in zip(qids, qvecs)}
    pair_df = spark.createDataFrame(
        [(q, c, q64_by_qid[q]) for q, c in pairs],
        f"{qid_col} long, cell long, __qv array<double>",
    )
    codes = _apply_id_filter(_read_cells(spark, path, cell_list), filter_ids)
    cand = codes.join(F.broadcast(pair_df), "cell")
    z1 = F.zip_with(
        F.col("codes"),
        lit_vector(delta),
        lambda c, d: (c.cast("double") + F.lit(0.5)) * d,
    )
    xhat = F.zip_with(z1, lit_vector(mn), lambda t, m: m + t)
    terms = F.zip_with(
        F.col("__qv"),
        xhat,
        lambda qq, xh: F.round(
            F.round((qq - xh) * (qq - xh), round_digits) * F.lit(float(scale)), 0
        ).cast("long"),
    )
    ssum = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
    adist = F.round(ssum / F.lit(float(scale)), round_digits)
    wk = Window.partitionBy(qid_col).orderBy(F.col("adist").asc(), F.col(id_col).asc())
    return (
        cand.select(F.col(qid_col), F.col("id").alias(id_col), adist.alias("adist"))
        .withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k_top)
        .drop("__rn")
    )


def dist_to_targets(
    df: DataFrame,
    target_vecs: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Min L2 distance to any target vector (reference dist,
    face_embeddings.py:23-36: distance to nearest of the target set).
    Targets are literal arrays — broadcast into the expression."""
    dists = [
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col(vec_col), lit_vector(t), lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
        for t in target_vecs
    ]
    return df.select(F.col(id_col), F.least(*dists).alias("dist") if len(dists) > 1 else dists[0].alias("dist"))


def sample_vectors(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Uniform sample (reference sample, face_embeddings.py:64-67)."""
    return df.sample(fraction=fraction, seed=seed)


def exists_ids(df: DataFrame, ids: list[int], id_col: str = "vec_id") -> DataFrame:
    """Point-lookup existence (reference exists, face_embeddings.py:69-71):
    (id, exists) for each requested id."""
    spark = df.sparkSession
    want = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    present = df.select(id_col).join(F.broadcast(want), id_col, "left_semi").withColumn(
        "exists", F.lit(True)
    )
    return want.join(present, id_col, "left").fillna(False, ["exists"])


def knn_predict(
    train: DataFrame,
    predict: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Label propagation by majority vote of the k nearest labeled vectors
    (reference knn_predict, face_embeddings.py:129-131). Neighbors via
    knn_join (labeled side broadcast when small; LSH-bucketed at scale),
    vote via a count window — ties break to the smaller label for
    determinism."""
    from pyspark.sql import Window

    q = predict.select(F.col(id_col).alias("q_id"), vec_col)
    neighbors = knn_join(q, train.select(id_col, vec_col), k, "q_id", id_col, vec_col)
    votes = (
        neighbors.join(train.select(F.col(id_col), F.col(label_col)), id_col)
        .groupBy("q_id", label_col)
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("n_votes").desc(), F.col(label_col).asc())
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col("q_id").alias(id_col), F.col(label_col).alias("pred_label"))
    )


_PACKED_D2_MAX = (1 << 42) - 1
_PACKED_RANGE_ERROR = (
    "packed argmin: squared distance exceeds the 42-bit packed range "
    "(~4.4e6 at 6 dp) — rescale the vectors or lower round_digits"
)


def _packed_argmin_key(d2: Column, round_digits: int) -> Column:
    """Order-preserving long encoding of a ROUNDED squared distance, with
    21 low bits left free for a dense centroid rank: packed = round(d2 *
    10^round_digits) << 21 (+ rank at the call site). d2 is already
    rounded at `round_digits`, so the scaling is an exact integer; the
    data-side raise_error fires if the integer would overflow the 42
    distance bits (~4.4e6 at 6 dp) — fail loudly, never misassign."""
    scale = float(10 ** round_digits)
    d2i = F.round(d2 * F.lit(scale)).cast("long")
    return F.shiftleft(
        F.when(
            d2i > F.lit(_PACKED_D2_MAX),
            F.raise_error(F.lit(_PACKED_RANGE_ERROR)).cast("long"),
        ).otherwise(d2i),
        21,
    )


def lloyd_assign(
    df: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """One Lloyd ASSIGNMENT step with given (or deterministically
    initialized) centroids — the closed-form, engine-portable half of
    kmeans (reference kmeans, face_embeddings.py:99-109). The full
    iterative fit stays in kmeans_assign (pyspark.ml); this step is what a
    SQL oracle can replay bit-for-bit, and it is also the production
    scoring path once a model is frozen: centroids broadcast, squared
    distance = |x|^2 - 2x.c + |c|^2 rounded at `round_digits`, argmin with
    ties to the smaller cluster id.

    `centroids` is (cluster, cvec) or None -> fixed init = the k vectors
    with the smallest ids, selected by RANK (orderBy + limit, a
    distributed TakeOrdered — not an `id < k` predicate, which silently
    yields fewer/zero centroids whenever ids are sparse or offset and
    turns downstream cluster blocking quadratic or empty). Cluster label
    = the centroid's own id, so with contiguous ids-from-0 the labels
    are 0..k-1, unchanged. Scale shape: broadcast nested loop over k
    centroids per row, then argmin as ONE HashAggregate —
    min_by(cluster, packed) where packed = (round(d2 * 1e6) as long)
    << 21 | centroid_rank. The packing is order-preserving (d2 is
    already rounded at 6 dp, so scaling by 1e6 is an exact integer) and
    rank is dense 0..k-1 ordered by cluster id, so min(packed) IS the
    (distance asc, cluster asc) tie rule. Why packed instead of
    min(struct(d2, cluster)): a struct-typed aggregation buffer forces
    SortAggregate — two sorts of ALL n*k scored rows and an interpreted
    per-row path outside whole-stage codegen (measured ~6us/row: 17s at
    a 2.9M-row sf1 assignment that the codegen pipeline does in 0.1s);
    a (long, long) min_by buffer hash-aggregates map-side inside the
    same codegen stage as the scoring, so the exchange carries n rows
    and the cross product is never materialized. A row_number window
    (the round-4 shape) shuffled all n*k rows — worst of all three.
    Guards: k < 2^21 (rank bits) asserted at plan time; d2 < 2^42/1e6
    (~4.4e6) enforced by a data-side raise_error (the q77 idiom) so an
    out-of-range corpus fails loudly, never silently misassigns."""
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    if centroids is None:
        centroids = (
            vecs.orderBy(F.col(id_col).asc())
            .limit(k)
            .select(F.col(id_col).alias("cluster"), F.col("__v").alias("__c"))
        )
    else:
        centroids = centroids.select(
            "cluster", F.col("cvec").cast("array<double>").alias("__c")
        )
    cents = centroids.withColumn("__c", F.transform("__c", lambda x: F.round(x, round_digits)))
    # hoist the per-side norms OUT of the n x k cross product: |x|^2 is one
    # dot per VECTOR and |c|^2 one per CENTROID, so each scored row pays a
    # single x.c dot instead of three — same doubles, same rounded d2 (the
    # three-dot expression combined the identical unrounded values)
    vecs = vecs.withColumn("__xx", dot(F.col("__v"), F.col("__v")))
    cents = cents.withColumn("__cc", dot(F.col("__c"), F.col("__c")))
    # dense centroid rank 0..k-1 ordered by cluster id — a k-row window on
    # the broadcast side, so the global sort is over centroids, never data
    rk = F.row_number().over(Window.orderBy(F.col("cluster").asc())) - F.lit(1)
    cents = cents.withColumn(
        "__rk",
        F.when(
            rk >= F.lit(1 << 21),
            F.raise_error(
                F.lit("lloyd_assign: more than 2^21 centroids exceeds the packed-argmin rank bits")
            ).cast("int"),
        ).otherwise(rk),
    )
    d2 = F.round(
        F.col("__xx") - F.lit(2.0) * dot(F.col("__v"), F.col("__c")) + F.col("__cc"),
        round_digits,
    )
    packed = _packed_argmin_key(d2, round_digits)
    scored = vecs.join(F.broadcast(cents)).select(
        F.col(id_col), F.col("cluster"), (packed + F.col("__rk")).alias("__pk")
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min_by(F.col("cluster"), F.col("__pk")).alias("cluster"))
    )


def _fold_dot(a, b):
    """`dot` over the last axis of two numpy arrays, broadcasting the
    rest: the same left fold of IEEE double products from 0.0, so the
    bits match Spark's `aggregate` (numpy's `sum` is pairwise and a BLAS
    GEMM reorders; either can move the last ulp)."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        acc += a[..., j] * b[..., j]
    return acc


def _vector_matrix(vecs, dim: "int | None" = None):
    """Driver-side vectors as an (n, dim) float64 matrix; `dim` defaults
    to the first vector's length.  A null vector, a null element or
    another length raises the ValueError the pass raises on a worker."""
    import numpy as np

    if dim is None:
        dim = len(vecs[0] or []) if vecs else 0
    if any(v is None or len(v) != dim or None in v for v in vecs):
        raise ValueError(f"_posting_pass: every vector must hold {dim} non-null values")
    return np.array(vecs, dtype=np.float64).reshape(len(vecs), dim)


def _d2_np(x, cmat, round_digits: int, cc=None):
    """`lloyd_assign`'s rounded squared distances of a numpy (n, d)
    batch to centroids `cmat` (k, d), bit for bit: d2 = round((|x|² −
    2·x·c) + |c|²) from `_fold_dot`s (`cc` = |c|², when the caller
    already has it).  The packed key's range guard raises the same
    error (a NaN d2 fails it too)."""
    import numpy as np

    if cc is None:
        cc = _fold_dot(cmat, cmat)
    d2 = _spark_round(
        (_fold_dot(x, x)[:, None] - 2.0 * _fold_dot(x[:, None, :], cmat[None, :, :]))
        + cc[None, :],
        round_digits,
    )
    if not (np.rint(d2 * 10.0 ** round_digits) <= _PACKED_D2_MAX).all():
        raise ValueError(_PACKED_RANGE_ERROR)
    return d2


def _assign_cells_np(x, cmat, round_digits: int):
    """`lloyd_assign` of a numpy (n, d) batch against centroids `cmat`
    (k, d) already sorted by cell and rounded with `_spark_round`: the
    row index of each vector's cell, bit for bit.  argmin keeps the
    first minimum of `_d2_np` — the smaller cell, as the packed key's
    rank does.  Rows go in slices that keep each (rows, k) temporary
    near 32 MB whatever the number of cells.  SemDeDup's assignment
    (`dedup._nearest_clusters`) computes the same d2 with numpy sums, a
    GEMM and `_round_half_away`, so it can differ from this kernel in
    the last ulp before rounding and in the rounding rule itself."""
    import numpy as np

    cc = _fold_dot(cmat, cmat)
    best = np.empty(len(x), dtype=np.int64)
    step = max(1, (1 << 22) // len(cmat))
    for i in range(0, len(x), step):
        best[i : i + step] = _d2_np(x[i : i + step], cmat, round_digits, cc).argmin(axis=1)
    return best


def _quantizer(
    cents: "list[dict]", round_digits: int, groups: "list[dict] | None" = None, g_probe: int = 1
):
    """The pass's coarse quantizer over centroid rows (cell, cv): (cell
    ids and the rounded centroid matrix, both in cell order, and
    assign(x) -> each row's position in them).

    Flat: `_assign_cells_np` over every cell.  With `groups` (grp, gv)
    and centroid rows labelled with their grp, the BUILD-side pruned
    assignment of a two-level quantizer.  Exact assignment is
    Θ(n·n_cells) scored pairs — at n = 2e9 and n_cells = 4√n ≈ 180k,
    ~9e16 flops for one build pass, the real reason a flat quantizer
    stops scaling before the probe path notices.  Here each vector ranks
    the groups that hold a cell by the same rounded d2 (stable: ties to
    the smaller grp), then takes the exact (d2 asc, cell asc) argmin over
    the cells of its `g_probe` best groups: Θ(n·(√n_cells +
    g_probe·√n_cells)), ~400× less work at 180k cells, which is how
    FAISS-scale systems build IVF indexes.  With g_probe = n_groups
    every cell is a candidate and the assignment is the flat one bit for
    bit (asserted in tests); a smaller g_probe is an approximation whose
    agreement rate is a measured property of the corpus (rehearsal row
    at 2M), not a promise."""
    import numpy as np

    rows = sorted(cents, key=lambda r: r["cell"])
    cells = np.array([r["cell"] for r in rows], dtype=np.int64)
    cmat = _spark_round(_vector_matrix([r["cv"] for r in rows]), round_digits)
    if groups is None:
        return cells, cmat, lambda x: _assign_cells_np(x, cmat, round_digits)
    cgrp = np.array([r["grp"] for r in rows], dtype=np.int64)
    groups = [g for g in sorted(groups, key=lambda g: g["grp"]) if (cgrp == g["grp"]).any()]
    gmat = _spark_round(_vector_matrix([g["gv"] for g in groups]), round_digits)
    members = [np.flatnonzero(cgrp == g["grp"]) for g in groups]
    p = min(g_probe, len(groups))

    def assign(x):
        top = np.argsort(_d2_np(x, gmat, round_digits), axis=1, kind="stable")[:, :p]
        best = np.full(len(x), len(cells))
        best_d2 = np.full(len(x), np.inf)
        for g, pos in enumerate(members):
            hit = np.flatnonzero((top == g).any(axis=1))
            if len(hit) == 0:
                continue
            d2 = _d2_np(x[hit], cmat[pos], round_digits)
            j = d2.argmin(axis=1)
            dj, cj = d2[np.arange(len(hit)), j], pos[j]
            # (d2 asc, cell asc) across groups: positions are in cell order
            better = (dj < best_d2[hit]) | ((dj == best_d2[hit]) & (cj < best[hit]))
            best_d2[hit[better]], best[hit[better]] = dj[better], cj[better]
        return best

    return cells, cmat, assign


def _posting_pass(
    df: DataFrame,
    cents: "list[dict]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    sq_bounds: "tuple[list[float], list[float]] | None" = None,
    codebooks: "list[dict] | None" = None,
    by_residual: bool = False,
    groups: "list[dict] | None" = None,
    g_probe: int = 1,
) -> DataFrame:
    """Posting rows for `df`'s vectors in ONE Arrow pass: each vector's
    cell against the centroid rows `cents` (cell, cv) and its stored
    columns, computed together per batch — no Spark join, no aggregate,
    and no job until the caller writes.  Every IVF-family build and
    stream insert writes its posting rows through it: a build passes
    the rows it stages, an insert the live table's (`sidecar_rows`,
    re-read per micro-batch so a recenter takes effect on the next).

    - IVF (default): (id, cell, v array<double>, norm = sqrt(dot(v, v)));
    - SQ8 (`sq_bounds` = (mn, mx)): (id, cell, codes array<int>)
      encoded over the first len(mn) coordinates;
    - PQ (`codebooks` = the (subspace, rk, sc) rows): (id, cell, codes
      array<int>), per subspace the rk of the nearest codeword by the
      same rounded d2, over the first m·sub coordinates — of the vector,
      or with `by_residual` of v − cv[cell].  The codewords are stored
      rounded and used as they are.

    `groups` (with `cents` labelled by grp) switches to the pruned
    assignment (`_quantizer`); rotation stays upstream
    (`rotate_vectors`).  The cells are `lloyd_assign`'s, the norms
    `norm`'s and the codes `_sq_encode_expr`'s and
    `pq_encode_with_codebooks`'s, bit for bit (`_assign_cells_np`,
    `_sq_encode_np`; pinned in tests), so the stored bytes equal the
    expression plans'.  Every vector must hold the centroids' dimension
    of non-null values: any other row raises ValueError, which fails a
    build before it publishes and a stream insert's micro-batch (its
    restart replays the batch, so the producer has to drop such a
    row)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cells, cmat, assign = _quantizer(cents, round_digits, groups, g_probe)
    dim = cmat.shape[1]
    books, sub = [], 0
    if codebooks is not None:
        sub = max(len(r["sc"]) for r in codebooks)
        for j in range(max(r["subspace"] for r in codebooks) + 1):
            book = sorted((r for r in codebooks if r["subspace"] == j), key=lambda r: r["rk"])
            ranks = np.array([r["rk"] for r in book], dtype=np.int32)
            books.append((ranks, _vector_matrix([r["sc"] for r in book])))
    coded = sq_bounds is not None or codebooks is not None
    # the expression builds' column types: codes hold no null, and PQ
    # codes are never null
    head = [StructField("id", df.schema[id_col].dataType), StructField("cell", LongType())]
    if coded:
        codes_t = ArrayType(IntegerType(), containsNull=False)
        tail = [StructField("codes", codes_t, nullable=codebooks is None)]
    else:
        tail = [StructField("v", ArrayType(DoubleType())), StructField("norm", DoubleType())]
    schema = StructType(head + tail)
    codes_type = pa.list_(pa.field("element", pa.int32(), nullable=False))

    def encode(batches):
        for b in batches:
            if len(b) == 0:
                continue
            vecs = b.column(1)
            flat = vecs.flatten()
            if (
                vecs.null_count
                or flat.null_count
                or not pc.all(pc.equal(pc.list_value_length(vecs), dim)).as_py()
            ):
                raise ValueError(f"_posting_pass: every vector must hold {dim} non-null values")
            x = flat.to_numpy().reshape(len(b), dim)
            pos = assign(x)
            cols = [b.column(0), pa.array(cells[pos])]
            if not coded:
                cols += [vecs, pa.array(np.sqrt(_fold_dot(x, x)))]
            else:
                if books:
                    enc = x - cmat[pos] if by_residual else x
                    codes = np.stack(
                        [
                            rk[_assign_cells_np(enc[:, j * sub : (j + 1) * sub], cb, round_digits)]
                            for j, (rk, cb) in enumerate(books)
                        ],
                        axis=1,
                    )
                else:
                    codes = _sq_encode_np(x[:, : len(sq_bounds[0])], *sq_bounds)
                offsets = pa.array(np.arange(len(b) + 1, dtype=np.int32) * codes.shape[1])
                cols.append(pa.ListArray.from_arrays(offsets, codes.ravel(), type=codes_type))
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).mapInArrow(encode, schema)


def lloyd_train(
    df: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic k-means TRAINING — `iters` full Lloyd iterations
    (assign, then recompute centers as coordinate means) from the
    rank-init seed (the k smallest-id vectors, `lloyd_assign`'s rule),
    returning the trained (cluster, cvec) centroid table.  Cluster
    labels are the SEED ids, stable across iterations, so downstream
    consumers (cell->group partitioning, probe ranking tie rules) see
    the same label space as the rank-init layout.

    Engine-replayable by construction — each iteration is two relational
    steps a SQL oracle unrolls as CTEs:

    1. assignment: `lloyd_assign` with the current centers (rounded d2
       argmin, ties to the smaller cluster id), run here as the one
       Arrow pass (`_posting_pass`, bit for bit), whose posting rows
       carry each vector with its cell — no join back;
    2. means: per (cluster, coordinate) the mean is computed as an EXACT
       scaled-bigint sum (round(val * 10^round_digits) as long — integer
       addition is associative, so Spark's partition order and DuckDB's
       scan order cannot disagree; the functions/aggregates.py:38
       discipline) divided once in double and rounded at round_digits.
       A cluster that captures no points keeps its previous center
       (LEFT JOIN + coalesce — the classic empty-cell convention).

    Between iterations the k centers are collected to the driver and
    re-literalized: k is driver-sized by contract (this trains LEVEL-1
    GROUP centers over a centroid table — k = sqrt(n_cells) ~ 430 at
    180k cells), and literal centers keep each iteration's plan flat
    instead of stacking k Lloyd plans into one lineage.

    Motivation (rehearsal r9, .scale lesson): rank-init group centers
    cost ~.17 recall@10 at 10% group coverage on the clustered 2M
    fixture vs flat ranking; trained centers recover most of it at
    probe time for a build-time-only cost.  Reference shape: the
    iterative half of face_embeddings.py:99-109's kmeans, made
    hash-replayable."""
    if iters < 0:
        raise ValueError(f"lloyd_train: iters must be >= 0, got {iters}")
    spark = df.sparkSession
    scale = float(10 ** round_digits)
    pts = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    seeds = (
        pts.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("cluster"),
            F.transform("__v", lambda x: F.round(x, round_digits)).alias("cvec"),
        )
    )
    centers = [
        (int(r["cluster"]), [float(x) for x in r["cvec"]]) for r in seeds.collect()
    ]
    centers.sort(key=lambda t: t[0])
    for _ in range(iters):
        posting = _posting_pass(
            pts, [{"cell": c, "cv": v} for c, v in centers], id_col, "__v", round_digits
        )
        means = (
            posting.select(F.col("cell").alias("cluster"), F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.round(F.col("val") * F.lit(scale)).cast("long")).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .withColumn(
                "mean",
                F.round(
                    F.col("__s").cast("double")
                    / (F.col("__n").cast("double") * F.lit(scale)),
                    round_digits,
                ),
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda s: s["mean"],
                ).alias("cvec")
            )
        )
        got = {
            int(r["cluster"]): [float(x) for x in r["cvec"]] for r in means.collect()
        }
        centers = [(cid, got.get(cid, vec)) for cid, vec in centers]
    return spark.createDataFrame(centers, "cluster long, cvec array<double>")


def logreg_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Score every vector with a FIXED logistic-regression coefficient
    vector (reference logreg predict, face_embeddings.py:112-126) — the
    train-anywhere / score-at-scale split: the model is |dim|+1 floats, the
    scoring is a pure expression (whole-stage codegen, no model object, no
    Python). Output: (id, logit, pred) where pred = logit > 0 (p > 0.5).
    The logit is rounded at `round_digits` so a SQL engine replays it
    exactly; probabilities (sigmoid) are monotone in the logit, so
    thresholding needs no exp() — which keeps the contract free of libm
    differences across engines."""
    v = F.col(vec_col).cast("array<double>")
    z = F.round(dot(v, lit_vector(weights)) + F.lit(float(bias)), round_digits)
    return df.withColumn("logit", z).withColumn(
        "pred", F.when(F.col("logit") > 0, F.lit(1)).otherwise(F.lit(0))
    )


def kmeans_assign(df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Cluster assignment via pyspark.ml KMeans (reference kmeans,
    face_embeddings.py:99-109)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed).fit(feat)
    return model.transform(feat).select(F.col(id_col), F.col("prediction").alias("cluster"))


def logreg_train_predict(
    train: DataFrame,
    predict: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary logistic regression over embeddings (reference logreg,
    face_embeddings.py:112-126)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    tr = train.select(F.col(label_col).cast("double").alias("label"), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = LogisticRegression(maxIter=50).fit(tr)
    pr = predict.select(F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    return model.transform(pr).select(F.col(id_col), F.col("prediction").alias("pred_label"))


def nearest_centroid_classify(
    train: DataFrame,
    predict: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Closed-form centroid classifier (deterministic ML contract path).

    Train = mean embedding per label (reference mean, face_embeddings.py:
    57-61); predict = assign each vector to the label whose centroid has the
    highest cosine similarity (reference knn/logreg use-case,
    face_embeddings.py:74-126, made closed-form so a SQL oracle can replay
    it bit-for-bit).

    Scale shape: centroids are |labels| rows — broadcast; scoring is a
    map-side nested loop over a handful of centroids per row, then a
    per-row argmax via max_by. One shuffle total (the centroid build).
    Ties break toward the smaller label (rounded sim keeps ties portable).
    """
    cents = mean_embedding(train, [label_col], vec_col=vec_col).select(
        F.col(label_col).alias("__cl"),
        # round centroid components at source: avg() accumulation order
        # differs across engines; 6 dp makes the centroid engine-portable
        F.transform("centroid", lambda v: F.round(v, round_digits)).alias("centroid"),
    )
    sim = F.round(cosine(F.col(vec_col), F.col("centroid")), round_digits)
    scored = predict.alias("p").join(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("__cl"),
        sim.alias("__sim"),
    )
    # argmax by (sim desc, label asc): max_by over a sortable struct
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("__sim"), (-F.col("__cl")).alias("__negl"))).alias("__b")
    )
    return best.select(
        F.col(id_col),
        (-F.col("__b.__negl")).cast("int").alias("pred_label"),
        F.col("__b.__sim").alias("similarity"),
    )


# --------------------------------------------------------------------------
# product quantization (the compressed embedding store)
# --------------------------------------------------------------------------


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    seed: int = 42,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into `m` subspaces and KMeans
    each with `k` centroids. Returns codebooks[m][k][sub_dim] — m*k
    sub-centroids, a few KB regardless of corpus size (the whole point:
    vectors compress to m small codes, ~8 bytes vs 256 for 64 floats).
    Training runs on a sample; the fit is the only driver-coordinated step,
    like ivf_fit. `dim` is REQUIRED (fail-closed, the library-wide
    contract): callers derive it from the parquet footer-adjacent one-row
    probe, never a hidden `.first()` driver job."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim is None:
        raise ValueError(
            "pq_fit: dim is required (no schema metadata carries array "
            "length; refusing to run a driver-side .first() scan — probe "
            "the parquet footer instead)"
        )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    train = df if sample_fraction >= 1.0 else df.sample(sample_fraction, seed=seed)
    train = train.cache()
    books = []
    for j in range(m):
        sv = train.select(
            array_to_vector(
                F.slice(F.col(vec_col), j * sub + 1, sub).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed, maxIter=20).fit(sv)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    train.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to their PQ codes (array<int>, one code per
    subspace): argmin sub-centroid per subspace. Arrow-batched numpy
    (m * k * dim flops per row — genuinely numeric, the documented
    escape-hatch case); keeps all input columns."""
    import numpy as np

    cb = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(cb)
    sub = cb[0].shape[1]
    cols = df.columns

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                s = vecs[:, j * sub : (j + 1) * sub]
                # (n, k) squared distances to subspace-j centroids
                d = ((s[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf[out_col] = [c.tolist() for c in codes]
            yield pdf

    schema = ", ".join(f"`{c}` {dict(df.dtypes)[c]}" for c in cols) + f", {out_col} array<int>"
    return df.mapInPandas(encode, schema=schema)


def pq_topk(
    codes: DataFrame,
    full: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    topk: int,
    shortlist: int = 200,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over the compressed store: asymmetric-distance (ADC) shortlist +
    exact cosine rerank.

    The per-query distance table (m x k floats, driver-side numpy) turns
    each row's approximate distance into m literal-array lookups summed —
    pure codegen over the 8-byte codes; the float vectors are read only for
    the `shortlist` rerank rows. At corpus scale this is the classic
    IVF-PQ read profile: scan codes (tiny), fetch vectors (big) for a few
    hundred rows."""
    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tables = []
    for j in range(m):
        q_sub = qv[j * sub : (j + 1) * sub]
        cents = np.asarray(codebooks[j], dtype=np.float64)
        tables.append(((cents - q_sub[None, :]) ** 2).sum(axis=1))

    adc = None
    for j in range(m):
        lut = F.array(*[F.lit(float(x)) for x in tables[j]])
        term = F.element_at(lut, F.element_at(F.col(code_col), j + 1) + 1)
        adc = term if adc is None else adc + term
    short = (
        codes.withColumn("__adc", adc)
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )
    cand = full.join(F.broadcast(short), id_col, "left_semi")
    return cosine_topk(cand, query_vec, topk, id_col, vec_col)
