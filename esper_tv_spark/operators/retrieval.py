"""Hybrid retrieval: reciprocal-rank fusion (RRF) of heterogeneous
ranked candidate lists — the standard way a retrieval pipeline combines
lexical (BM25) and vector (ANN) evidence without score calibration
(Cormack/Clarke/Buettcher, SIGIR'09: score(d) = sum over lists of
1/(k + rank_d)).  The reference's caption search ranks lexically only
(captions.py:93-103); every modern retrieval stack fuses that with an
embedding ANN list, so the engine carries the fusion operator as a
first-class, oracle-checkable op.

Scale stance: RRF fuses CANDIDATE LISTS, not corpora — each input is a
top-k (or matches-only) DataFrame that upstream operators already
bounded (BM25 postings filtered to query terms; ANN probes scan
n_probe/n_cells of the index).  Ranking within a bounded list is one
global window (a single-partition sort of k rows — the same driver-sized
stance as the serving-batch collects); the fusion itself is one groupBy
over the unioned lists.  Nothing here touches the full corpus.

Determinism contract (what lets q109 hash-match an independent engine):
ranks are assigned over ROUNDED scores with ids as tie-break, and the
fused score is an exact scaled-bigint sum of per-list contributions
rounded at source — float accumulation order can't move the hash."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: "list[tuple[DataFrame, str, str, bool]]",
    k: int = 60,
    id_out: str = "doc_id",
    score_out: str = "rrf_score",
    round_digits: int = 6,
    contrib_digits: int = 9,
    weights: "list[float] | None" = None,
) -> DataFrame:
    """Fuse ranked lists by reciprocal rank.  `rankings` is a list of
    (df, id_col, score_col, descending) — each df a bounded candidate
    list.  Within each list, rank = row_number over (round(score,
    round_digits) desc/asc, id asc): rounding the order key at source is
    what keeps rank assignment identical across engines (ULP noise in a
    raw float score would swap neighbors).  Contribution 1/(k + rank) is
    rounded to `contrib_digits` and summed as scaled BIGINTs (the
    functions/aggregates.py exact-sum stance), then unscaled — so the
    fused score is bit-identical however many lists an id appears in and
    whatever order the union lands in.

    Output: (id_out, score_out, n_lists), fused score descending, ties
    to the smaller id.  n_lists (how many lists surfaced the id) rides
    along because it is the fusion-debugging column every operator of a
    hybrid stack ends up wanting.

    `weights` (optional, one per ranking) scales each list's
    contribution to w_i/(k + rank) — weighted RRF, for when one
    modality is trusted more (e.g. 2:1 lexical over a weak embedding);
    contributions stay rounded at source so the exact-sum contract
    holds whatever the weights."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k <= 0:
        raise ValueError("rrf k must be positive")
    if weights is not None and (
        len(weights) != len(rankings) or any(w <= 0 for w in weights)
    ):
        raise ValueError("weights must match rankings and be positive")
    scale = float(10 ** contrib_digits)
    parts = []
    for i, (df, id_col, score_col, descending) in enumerate(rankings):
        w_i = 1.0 if weights is None else float(weights[i])
        key = F.round(F.col(score_col), round_digits)
        order = key.desc() if descending else key.asc()
        w = Window.orderBy(order, F.col(id_col).asc())
        contrib = F.round(
            F.lit(w_i) / (F.lit(float(k)) + F.col("__rank")), contrib_digits
        )
        parts.append(
            df.select(
                F.col(id_col).alias(id_out),
                F.row_number().over(w).alias("__rank"),
            ).select(
                id_out,
                F.round(contrib * F.lit(scale), 0).cast("long").alias("__c"),
            )
        )
    unioned = reduce(DataFrame.unionByName, parts)
    return (
        unioned.groupBy(id_out)
        .agg(
            F.round(F.sum("__c") / F.lit(scale), round_digits).alias(score_out),
            F.count(F.lit(1)).alias("n_lists"),
        )
        .orderBy(F.col(score_out).desc(), F.col(id_out).asc())
    )


def interp_fuse(
    rankings: "list[tuple[DataFrame, str, str, bool]]",
    weights: "list[float] | None" = None,
    id_out: str = "doc_id",
    score_out: str = "fused_score",
    round_digits: int = 6,
    contrib_digits: int = 9,
) -> DataFrame:
    """Fuse ranked lists by NORMALIZED SCORE INTERPOLATION — the other
    standard fusion next to RRF (linear combination / CombSUM with
    min-max normalization, Vogt & Cottrell 1999; the "alpha blend" every
    CLIP-era hybrid stack exposes): per list, scores are min-max
    normalized over the CANDIDATE LIST's rounded scores
    (n = (s - min)/(max - min), flipped for ascending/distance lists so
    1.0 is always best; a constant list normalizes to 1.0 — full credit,
    documented convention), then fused as Σ w_i · n_i with ids absent
    from a list contributing 0.

    When to prefer which: RRF ignores score GAPS (rank 1 beats rank 2 by
    the same margin whether the scores differ by .5 or .0001) — robust
    when list score scales are incomparable; interpolation preserves
    gaps — better when the scores are calibrated and a large margin
    should dominate.  Same determinism contract as rrf_fuse: the
    normalization reads ROUNDED scores (round_digits), each weighted
    contribution is rounded at source (contrib_digits) and summed as
    scaled BIGINTs, so the fused score is bit-identical across engines
    and union orders.  Output: (id_out, score_out, n_lists), fused score
    descending, ties to the smaller id."""
    if not rankings:
        raise ValueError("interp_fuse needs at least one ranking")
    if weights is not None and (
        len(weights) != len(rankings) or any(w <= 0 for w in weights)
    ):
        raise ValueError("weights must match rankings and be positive")
    scale = float(10 ** contrib_digits)
    parts = []
    for i, (df, id_col, score_col, descending) in enumerate(rankings):
        w_i = 1.0 if weights is None else float(weights[i])
        key = F.round(F.col(score_col), round_digits)
        keyed = df.select(F.col(id_col).alias(id_out), key.alias("__s"))
        stats = keyed.agg(
            F.min("__s").alias("__mn"), F.max("__s").alias("__mx")
        )
        span = F.col("__mx") - F.col("__mn")
        raw = (
            (F.col("__s") - F.col("__mn")) / span
            if descending
            else (F.col("__mx") - F.col("__s")) / span
        )
        n = F.when(span == F.lit(0.0), F.lit(1.0)).otherwise(raw)
        contrib = F.round(F.lit(w_i) * n, contrib_digits)
        parts.append(
            keyed.crossJoin(F.broadcast(stats)).select(
                id_out,
                F.round(contrib * F.lit(scale), 0).cast("long").alias("__c"),
            )
        )
    unioned = reduce(DataFrame.unionByName, parts)
    return (
        unioned.groupBy(id_out)
        .agg(
            F.round(F.sum("__c") / F.lit(scale), round_digits).alias(score_out),
            F.count(F.lit(1)).alias("n_lists"),
        )
        .orderBy(F.col(score_out).desc(), F.col(id_out).asc())
    )


def hybrid_search(
    docs: DataFrame,
    spark,
    index_path: str,
    query_terms: "list[str]",
    query_vec: "list[float]",
    k_top: int,
    k_cand: int = 25,
    n_probe: int = 3,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexical + vector hybrid search over one corpus: BM25 top-`k_cand`
    (operators/text.bm25_scores, scores rounded at source — the q75
    shape) fused with the persisted-IVF probe's top-`k_cand`
    (similarity.ivf_probe_index — the q80 shape, cosine already rounded)
    by RRF, top-`k_top` out.  One bounded candidate list per modality;
    the corpus is touched exactly as the two underlying operators touch
    it (term-filtered postings; n_probe pruned cells)."""
    from esper_tv_spark.operators.similarity import ivf_probe_index
    from esper_tv_spark.operators.text import bm25_scores

    lex = (
        bm25_scores(docs, query_terms, id_col=id_col, text_col=text_col)
        .select(id_col, F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k_cand)
    )
    vec = ivf_probe_index(spark, index_path, query_vec, k_cand, n_probe=n_probe)
    return rrf_fuse(
        [(lex, id_col, "score", True), (vec, "vec_id", "cosine_sim", True)],
        k=rrf_k,
        id_out=id_col,
    ).limit(k_top)


def mmr_rerank(
    cand: DataFrame,
    sims: DataFrame,
    k: int,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    rel_col: str = "cosine_sim",
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    greedily pick k items maximizing lam*relevance - mu*max_sim_to_picked
    — the standard diversified top-k a serving page runs AFTER candidate
    generation (the reference's ranked lists are relevance-only,
    captions.py:93-103; every dedup-adjacent retrieval stack adds this).

    `cand` is a BOUNDED candidate list (id, rel) — the fetch_k of an ANN
    probe or BM25 cut, tens-to-hundreds of rows; `sims` holds pairwise
    similarities between candidates (ia, ib, s), also bounded (fetch_k²).
    Greedy selection is inherently sequential (pick i+1 depends on picks
    1..i).  Both tables are collected ONCE (they are bounded by the
    fetch_k contract — this is the serving-batch stance of
    `_collect_query_batch`) and the k greedy steps run in driver Python:
    the blend lam*rel - mu*max_sim is the same IEEE float64 arithmetic
    the engine would execute, and the rounding is `_round_half_away` —
    the F.round twin every BLAS serving path in operators/similarity.py
    is pinned to (pytest asserts agreement on the gate corpora).  The
    r10 reshape replaces the previous k-sequential-Spark-jobs loop
    (one tiny argmax job per pick: ~1.2s of pure scheduling at k=10)
    with two collects; scores are identical — including the INNER-join
    subtlety that a remaining candidate with no sims row to any selected
    id drops out of that step's argmax rather than scoring max_sim=0.

    mu is an explicit parameter rather than 1-lam because 1-0.7 is
    0.30000000000000004 in IEEE — the oracle writes the literal 0.3.

    Returns (pick 1..k, id, mmr_score) with mmr_score =
    round(lam*rel - mu*max_sim, round_digits); the first pick has no
    diversity term (max over empty set contributes 0).
    """
    from esper_tv_spark.operators.similarity import _round_half_away

    spark = cand.sparkSession
    cand_rows = [
        (r[id_col], None if r[rel_col] is None else float(r[rel_col]))
        for r in cand.select(id_col, rel_col).collect()
    ]
    # duplicate (ia, ib) rows fold with max(), matching the F.max(s) the
    # pre-r10 Spark plan aggregated over them — a plain dict would keep
    # whichever row collect() returned last (partitioning-dependent)
    sim_by_pair: dict[tuple, float] = {}
    for r in sims.select("ia", "ib", "s").collect():
        if r["s"] is None:
            continue
        p = (r["ia"], r["ib"])
        s = float(r["s"])
        if p not in sim_by_pair or s > sim_by_pair[p]:
            sim_by_pair[p] = s
    picks: list[tuple[int, object, float]] = []
    selected: list = []
    remaining = dict(cand_rows)
    for step in range(1, k + 1):
        best = None  # (mmr, id)
        for cid, rel in remaining.items():
            if rel is None:
                continue
            if selected:
                ss = [
                    sim_by_pair[(cid, s)]
                    for s in selected
                    if (cid, s) in sim_by_pair
                ]
                if not ss:
                    continue  # inner-join semantics: no sim row, no score
                mmr = float(
                    _round_half_away(lam * rel - mu * max(ss), round_digits)
                )
            else:
                mmr = float(_round_half_away(lam * rel, round_digits))
            # (mmr desc, id asc) — the engine's orderBy total order
            if (
                best is None
                or mmr > best[0]
                or (mmr == best[0] and cid < best[1])
            ):
                best = (mmr, cid)
        if best is None:
            break  # fewer candidates than k
        picks.append((step, best[1], best[0]))
        selected.append(best[1])
        del remaining[best[1]]
    id_type = cand.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        picks, schema=f"pick INT, {id_col} {id_type}, mmr_score DOUBLE"
    )


def candidate_pairwise_sims(
    cand_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """All-pairs cosine between a BOUNDED candidate set (fetch_k rows →
    fetch_k² sims; this is the one place all-pairs is the right plan —
    never call it on a corpus).  Output (ia, ib, s), self-pairs excluded."""
    from esper_tv_spark.operators.similarity import cosine

    a = cand_vecs.select(F.col(id_col).alias("ia"), F.col(vec_col).alias("__va"))
    b = cand_vecs.select(F.col(id_col).alias("ib"), F.col(vec_col).alias("__vb"))
    return (
        a.join(b, F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(cosine(F.col("__va"), F.col("__vb")), round_digits).alias("s"))
    )
