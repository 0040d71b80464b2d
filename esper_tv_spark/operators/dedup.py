"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash, and exact n-gram Jaccard verification. All deterministic and
engine-portable: hashes are md5 (identical in Spark and DuckDB), so the
DuckDB oracle can replay every step bit-for-bit.

Scale notes (100 TB): the LSH path is the point — candidate generation is a
groupBy on (band_id, band_hash) buckets (one shuffle), never an O(n^2)
cross join; the exact Jaccard verify runs only on bucket-cohabiting pairs.
Hot buckets (boilerplate docs) are the skew risk: cap bucket size or salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esper_tv_spark.operators.text import fingerprint, ngrams, tokenize


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups: normalize -> md5 -> groupBy having count>1.
    Returns (fp, n_docs, min_doc_id) per duplicate group."""
    return (
        fingerprint(df, id_col, text_col)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per fingerprint — the dedup sink."""
    fp = fingerprint(df, id_col, text_col)
    w_min = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return fp.join(w_min, [ "fp", id_col ], "left_semi").drop("fp")


def shingle_table(
    df: DataFrame, shingle_n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct token shingles per document — the shared substrate of
    MinHash signatures and exact Jaccard verification. Callers that use it
    more than once in a plan should cache it (see lsh_near_dup)."""
    return ngrams(df, shingle_n, id_col, text_col).dropDuplicates([id_col, "ngram"])


def shingle_sets(
    df: DataFrame, shingle_n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingles array, n_sh): the distinct-shingle SET per document as
    one array row.  This is the fused substrate of the whole near-dup
    pipeline: ONE shuffle (groupBy id) builds it, and everything downstream
    — MinHash (array_min over transform), banding, Jaccard (array_intersect)
    — is a projection or a join against it.  The per-row array is bounded by
    the document's token count, so rows stay small even at corpus scale,
    and the output comes out hash-partitioned by id, a partitioning the
    verify-stage joins reuse.

    Shuffle sizing is DEFAULT-ON here (plans.partitions.advise_for_df,
    blowup ~30: ~3x parquet decompression x ~10x set-over-text growth):
    the sf100 rehearsal measured this exact shuffle GC-thrashing a 128GB
    host at the static 32-partition default (3GB+/task) and completing at
    the stat-derived count — and only q37's call site carried the fix."""
    from esper_tv_spark.plans.partitions import advise_for_df

    advise_for_df(df, blowup=30.0)
    ng = ngrams(df, shingle_n, id_col, text_col)
    return ng.groupBy(id_col).agg(
        F.collect_set("ngram").alias("shingles"),
        F.count_distinct("ngram").alias("n_sh"),
    )


def minhash_from_sets(sets: DataFrame, n_hashes: int = 8, id_col: str = "doc_id") -> DataFrame:
    """MinHash signature as a pure projection over the shingle-set array:
    hash function i = md5(i || '|' || shingle), signature element = the
    array_min hex digest.  Lexicographic min over md5 hex == min over a
    uniform 128-bit space, identical in any engine with md5 — and with the
    set already assembled there is NO shuffle here at all."""
    cols = [
        F.array_min(
            F.transform("shingles", lambda s: F.md5(F.concat(F.lit(f"{i}|"), s)))
        ).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return sets.select(F.col(id_col), *cols)


_TWO64 = "18446744073709551616"


def minhash_from_sets_cw(
    sets: DataFrame, n_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Carter-Wegman minhash (Wegman & Carter 1981 universal hashing):
    ONE md5 per shingle instead of one per hash function.  The digest is
    split into two independent 64-bit halves (h1 = hex[0:16], h2 =
    hex[16:32], big-endian unsigned), and hash function i is the linear
    combination (h1 + i*h2) mod 2^64 — pairwise-independent, which is
    what minwise estimation needs.  The combine is DECIMAL(20,0)
    multiply-add both engines replay exactly (DuckDB:
    ('0x'||substr)::UBIGINT + HUGEINT arithmetic).

    MEASURED HONESTLY (sf0.1, cached shingle sets): this is SLOWER in
    Spark's expression engine than the md5-per-function signature —
    0.76s classic vs 1.07s CW for the signature stage — because md5 on
    a ~25-char shingle is a cheap codegen intrinsic while exact mod-2^64
    arithmetic must be simulated (DECIMAL ops; a 16-bit-limb long
    formulation measured 2.16s, worse still, and ANSI mode forbids
    native long wraparound).  Classic `minhash_from_sets` therefore
    REMAINS THE DEFAULT; this variant is kept as the oracle-proven
    pattern for engines where 64-bit wrap arithmetic is native (a
    C++/Rust kernel, or Spark with ANSI off — where the 8x digest saving
    is real) and as the portable-universal-hashing reference.

    The md5 array is materialized in its OWN projection (`__dig`):
    CollapseProject keeps a non-cheap expression referenced by all
    n_hashes output columns in a separate stage, so each shingle is
    digested once, not n_hashes times."""
    two64 = F.lit(_TWO64).cast("decimal(38,0)")

    def cw(d, i: int):
        h1 = F.conv(F.substring(d, 1, 16), 16, 10).cast("decimal(20,0)")
        h2 = F.conv(F.substring(d, 17, 16), 16, 10).cast("decimal(20,0)")
        return ((h1 + F.lit(i).cast("decimal(20,0)") * h2) % two64).cast("decimal(20,0)")

    digs = sets.withColumn("__dig", F.transform("shingles", lambda s: F.md5(s)))
    cols = [
        F.array_min(F.transform(F.col("__dig"), lambda d: cw(d, i))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return digs.select(F.col(id_col), *cols)


def minhash_signature(
    df: DataFrame,
    n_hashes: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
    cw: bool = False,
) -> DataFrame:
    """MinHash signature per document — see minhash_from_sets (md5 per
    hash function; the default — measured faster under Spark's
    expression engine) and minhash_from_sets_cw (one md5, Carter-Wegman
    combine; see its docstring for the honest measurement).

    Output: (doc_id, mh_0 .. mh_{n-1})."""
    s = sets if sets is not None else shingle_sets(df, shingle_n, id_col, text_col)
    if cw:
        return minhash_from_sets_cw(s, n_hashes, id_col)
    return minhash_from_sets(s, n_hashes, id_col)


def lsh_buckets(
    signatures: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band the signature: band j hashes sig[j*r .. (j+1)*r-1] together.
    Output: (doc_id, band, bucket).

    Emitted via one inline-explode of a band array (a union of per-band
    selects would re-evaluate the whole signature subtree once per band)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh_{j * rows_per_band + k}") for k in range(rows_per_band)]
                    )
                ).alias("bucket"),
            )
            for j in range(n_bands)
        ]
    )
    return signatures.select(F.col(id_col), F.inline(bands))


def lsh_candidate_pairs(
    df: DataFrame,
    n_hashes: int = 8,
    shingle_n: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
    max_bucket_size: int | None = None,
    cw: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing any LSH band bucket.

    One groupBy on (band, bucket) collects the bucket's ids; in-bucket pairs
    are generated with array expressions (i<j combinations) and exploded.
    Cost is sum of bucket-size^2 — never corpus^2 — and the signature
    pipeline is evaluated exactly once (a bucket self-join would recompute
    it per side). Hot buckets are the skew risk: max_bucket_size drops
    buckets above the cap before the quadratic pair blowup — an oversized
    bucket is boilerplate (its hash is non-discriminative), and dropping it
    bounds the worst task at cap^2 pairs. Audit dropped buckets with
    oversized_lsh_buckets."""
    rows_per_band = n_hashes // n_bands
    sig = minhash_signature(df, n_hashes, shingle_n, id_col, text_col, sets=sets, cw=cw)
    b = lsh_buckets(sig, n_bands, rows_per_band, id_col)
    grouped = (
        b.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("ids") <= max_bucket_size)
    n = F.size("ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i + 1).alias("id_a"),
                    F.element_at(F.col("ids"), j + 1).alias("id_b"),
                ),
            ),
        )
    )
    return grouped.select(F.explode(pairs).alias("p")).select("p.id_a", "p.id_b").distinct()


def oversized_lsh_buckets(
    df: DataFrame,
    max_bucket_size: int,
    n_hashes: int = 8,
    shingle_n: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The buckets a max_bucket_size cap WOULD drop — the audit companion
    to lsh_candidate_pairs (no silent truncation: count what was skipped).
    Output: (band, bucket, n_docs)."""
    rows_per_band = n_hashes // n_bands
    sig = minhash_signature(df, n_hashes, shingle_n, id_col, text_col)
    b = lsh_buckets(sig, n_bands, rows_per_band, id_col)
    return (
        b.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given candidate pairs:
    |A ∩ B| / |A ∪ B| over distinct shingle sets.

    The verify stage after LSH candidate generation: two equi-joins pull
    each pair's shingle-set arrays, and the intersection is a per-row
    array_intersect — no shingle explode, no (id, ngram)-wide shuffle, no
    re-aggregation.

    The set-table joins are PINNED to shuffled-hash: the shingle arrays
    blow up ~10x over the raw text, so Catalyst's static size estimate
    (derived from the parquet scan) undershoots and elects a broadcast
    that fails at driver memory one decade up (found by the sf10
    rehearsal — worked at 50k docs, died at 500k). Shuffled-hash scales
    on both sides; AQE still handles any skewed id. The pair-join shuffle
    self-advises its partition count from the corpus bytes (the sets
    carry the ~10x shingle blowup through both join sides)."""
    from esper_tv_spark.plans.partitions import advise_for_df

    advise_for_df(df, blowup=30.0)
    s = sets if sets is not None else shingle_sets(df, shingle_n, id_col, text_col)
    sa = s.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"), F.col("n_sh").alias("n_a"))
    sb = s.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"), F.col("n_sh").alias("n_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                n_common.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_common).cast("double")
            ).alias("jaccard"),
        )
    )


def lsh_near_dup(
    df: DataFrame,
    n_hashes: int = 8,
    shingle_n: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_shingles: bool | None = None,
) -> DataFrame:
    """The fused near-dup pipeline: LSH candidate generation + exact
    Jaccard verification sharing ONE shingle-set table. The set build is
    the only wide shuffle the substrate pays; signatures are projections
    over it and verification is array_intersect over two joins against it.

    cache_shingles=None (default) decides FROM THE DATA whether the shared
    substrate is cached (guide §5 "caching is only worth it when
    recomputing is more expensive than the memory pressure"): cache only
    when the corpus's advised shuffle width (input bytes x the ~30x
    shingle blowup / 256MB tasks) exceeds the session's partition floor —
    i.e. when the shingle build is a genuinely wide multi-task shuffle
    whose 3x recompute (signatures + both verify joins) dominates the
    cache-write barrier.  Below that, parallel recompute wins: MEASURED
    at sf0.1 (3.75 -> 2.82 s mean interleaved A/B) AND sf1 (10.43 ->
    9.81 s), rows identical at both scales; the r4 sf100 rehearsal
    corpus resolves True and keeps the r2-r5 cached plan."""
    s = shingle_sets(df, shingle_n, id_col, text_col)
    if cache_shingles is None:
        # decide from THIS input's bytes only (not advise_for_df, whose
        # session-ratcheted initialPartitionNum would make the choice
        # depend on which queries ran earlier in the session)
        from esper_tv_spark.plans.partitions import input_bytes

        try:
            files = df.inputFiles()
        except Exception:
            files = []
        paths = [f[7:] if f.startswith("file://") else f for f in files]
        floor_n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        cache_shingles = bool(paths) and (
            input_bytes(paths) * 30.0 / (256 * 1024 * 1024) > floor_n
        )
    if cache_shingles:
        s = s.cache()
    pairs = lsh_candidate_pairs(
        df, n_hashes, shingle_n, n_bands, id_col, text_col, sets=s
    )
    return jaccard_pairs(df, pairs, shingle_n, id_col, text_col, sets=s)


def winnow_candidate_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 16,
    min_shared: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidates by shared winnowed fingerprints (the MOSS
    idiom): documents sharing >= min_shared fingerprints. Same bucket-join
    shape as LSH candidate generation — cost is sum of fingerprint-bucket
    sizes squared, never corpus^2; max_bucket_size drops boilerplate
    fingerprints before the pair blowup. Output: (id_a, id_b, n_shared)."""
    from esper_tv_spark.operators.text import winnow_fingerprints
    from esper_tv_spark.plans.partitions import advise_for_df

    advise_for_df(df, blowup=10.0)
    fps = winnow_fingerprints(df, k, w, id_col, text_col)
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("ids") <= max_bucket_size)
    n = F.size("ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i + 1).alias("id_a"),
                    F.element_at(F.col("ids"), j + 1).alias("id_b"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def oversized_winnow_buckets(
    df: DataFrame,
    max_bucket_size: int,
    k: int = 8,
    w: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The fingerprint buckets a max_bucket_size cap WOULD drop — the
    audit companion to winnow_candidate_pairs (no silent truncation:
    count what was skipped; an over-common fingerprint is boilerplate,
    MOSS drops them too).  Output: (fp, n_docs)."""
    from esper_tv_spark.operators.text import winnow_fingerprints

    fps = winnow_fingerprints(df, k, w, id_col, text_col)
    return (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 0,
    seed: int = 42,
    n_bands: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine_sim) for
    every pair with rounded cosine >= threshold.

    `dim` (the embedding dimensionality) is REQUIRED when n_planes > 0:
    the planes are materialized at plan time and nothing in the Spark
    schema carries array length, so the only alternative is a `.first()`
    driver job — a full scan kickoff per invocation at 100 TB. Fail
    closed instead of sniffing (get it from your table contract or the
    parquet footer statistics).

    n_planes=0 is the exact all-pairs baseline (O(n^2), oracle-checkable —
    fine for a dedup audit on a sampled corpus, never for 100 TB).
    n_planes>0 is the scale path: signed-random-projection buckets block the
    comparison so only bucket-cohabiting pairs are scored — candidate
    generation is an equi-join on the bucket key (one shuffle), cost is sum
    of bucket-size^2. Recall < 1 for one plane set; `n_bands` unions several
    independent plane sets (seeds seed, seed+1, ...) exactly like MinHash
    bands — a pair is a candidate if it collides in ANY band, so miss
    probability decays geometrically with bands while each band's join
    stays an equi-join. Candidate pairs are deduped before scoring (each
    pair's cosine is computed once)."""
    from esper_tv_spark.operators.similarity import cosine, dot, random_hyperplanes, srp_bucket
    from esper_tv_spark.plans.partitions import advise_for_df

    # banded candidate pairs run ~occupancy x bands / 2 per vector
    # (16-byte rows) plus the vector re-attach joins: ~8x the input bytes
    advise_for_df(df, blowup=8.0)
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    a = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    if n_planes > 0:
        # a small parquet arrives as ONE partition; the per-row bucket/norm
        # expressions (n_bands x n_planes dot products each) are the hot
        # loop, so spread them across the cluster first — the shuffle moves
        # only (id, vector) rows and pays for itself immediately
        par = df.sparkSession.sparkContext.defaultParallelism
        if a.rdd.getNumPartitions() < par:
            a = a.repartition(par, "id_a")
            b = b.repartition(par, "id_b")
        if dim is None:
            raise ValueError(
                "embedding_near_dup_pairs: dim is required when n_planes > 0 "
                "(no schema metadata carries array length; refusing to run a "
                "driver-side .first() scan to sniff it)"
            )
        # ONE pass per side: every band's bucket is its OWN column (each a
        # n_planes x dim unrolled multiply-add chain — per-column codegen
        # splits keep Janino under its 64KB method limit, which one giant
        # array-of-all-bands expression does not), then an explode over
        # (band, bucket) structs yields the join rows. The vector column is
        # dropped before the explode, so downstream carries 16-byte rows.
        all_planes = [random_hyperplanes(dim, n_planes, seed + band) for band in range(n_bands)]

        def banded(side: DataFrame, id_out: str, vcol: str) -> DataFrame:
            bucketed = side.select(
                F.col(id_out),
                *[
                    srp_bucket(F.col(vcol), planes).alias(f"__b{i}")
                    for i, planes in enumerate(all_planes)
                ],
            )
            pairs = F.array(
                *[
                    F.struct(F.lit(i).alias("band"), F.col(f"__b{i}").alias("bucket"))
                    for i in range(n_bands)
                ]
            )
            return bucketed.select(F.col(id_out), F.explode(pairs).alias("__bb")).select(
                F.col(id_out), F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket")
            )

        # candidate generation carries ONLY the id pair — deduping before
        # attaching vectors keeps the distinct's shuffle at 16 bytes/row
        # instead of 2 x dim doubles (50x lighter at 64-dim); vectors are
        # re-attached by equi-join afterwards (broadcast when small)
        ab = banded(a, "id_a", "va")
        bb = banded(b, "id_b", "vb")
        cand = (
            ab.join(bb, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        if n_bands > 1:
            cand = cand.distinct()
        # per-side norms computed ONCE per vector before the pair join:
        # the pair expression becomes one dot + one divide instead of three
        # dots (3x cheaper scoring); same arithmetic shape as cosine()
        # (sqrt per side, then multiply), so values stay bit-identical to
        # the DuckDB oracle
        an = a.withColumn("__na", F.sqrt(dot(F.col("va"), F.col("va"))))
        bn = b.withColumn("__nb", F.sqrt(dot(F.col("vb"), F.col("vb"))))
        j = cand.join(an, "id_a").join(bn, "id_b")
        sim = F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")), 6
        )
    else:
        j = a.join(b, F.col("id_a") < F.col("id_b"))
        sim = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return (
        j.select("id_a", "id_b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= F.lit(threshold))
    )


def recommended_planes(n_vectors: int, target_occupancy: float = 31.25) -> int:
    """Plane count for the banded SRP block at a given corpus size: keeps
    expected bucket occupancy ~target (2^planes buckets/band), so per-band
    candidate volume stays n_buckets * occupancy^2 ~ LINEAR in n. A pinned
    plane count goes quadratic one decade up — measured 50x wall at 10x
    data in the sf1 rehearsal. The price is borderline-pair recall (p^k
    per band falls as k grows); true near-duplicates (cosine >= 0.8,
    p >= 0.85) stay >0.99 recall at 16 bands through k=9."""
    import math

    return max(2, round(math.log2(max(n_vectors, 64) / target_occupancy)))


def build_srp_index(
    df: DataFrame,
    path: str,
    n_planes: int,
    seed: int = 42,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Persist the banded SRP projection as an on-disk index: build once,
    probe many. Re-projecting per query (n_bands x n_planes dot products
    per vector) is the dominant cost of the blocked near-dup at scale — an
    index table amortizes it exactly like the IVF path's prebuilt
    partitions. Writes two parquet tables under `path`:

    - ``bands/``  (band int, bucket bigint, id) — the blocking rows,
      partitioned by band so a probe of band b prunes the rest;
    - ``norms/``  (id, norm double) — per-vector L2 norms, computed once
      (parquet doubles round-trip binary-exact, so probe-time cosines stay
      bit-identical to the inline path).
    """
    import os

    from esper_tv_spark.operators.similarity import dot, random_hyperplanes, srp_bucket

    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    par = df.sparkSession.sparkContext.defaultParallelism
    if vecs.rdd.getNumPartitions() < par:
        vecs = vecs.repartition(par, "id")
    if dim is None:
        raise ValueError(
            "build_srp_index: dim is required (no schema metadata carries "
            "array length; refusing to run a driver-side .first() scan)"
        )
    all_planes = [random_hyperplanes(dim, n_planes, seed + band) for band in range(n_bands)]
    bucketed = vecs.select(
        "id",
        *[srp_bucket(F.col("v"), planes).alias(f"__b{i}") for i, planes in enumerate(all_planes)],
    )
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("band"), F.col(f"__b{i}").alias("bucket"))
            for i in range(n_bands)
        ]
    )
    bands = bucketed.select(F.col("id"), F.explode(pairs).alias("__bb")).select(
        "id", F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket")
    )
    bands.write.mode("overwrite").partitionBy("band").parquet(os.path.join(path, "bands"))
    vecs.select("id", F.sqrt(dot(F.col("v"), F.col("v"))).alias("norm")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "norms"))


def _estimated_vector_bytes(df: DataFrame, norms_path: str) -> int | None:
    """In-memory size estimate of the vector table: parquet FOOTER row
    count of the persisted norms x (dim x 8 + row overhead), dim probed
    from ONE row of the live table's first backing parquet file. Pure
    metadata reads — no Spark job. None when the inputs aren't
    file-backed (small-scale/in-memory callers: broadcast is safe there)."""
    import os as _os

    import pyarrow.parquet as pq

    try:
        n_rows = 0
        for root, _dirs, files in _os.walk(norms_path):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_rows += pq.read_metadata(_os.path.join(root, fn)).num_rows
        files = [f[7:] if f.startswith("file://") else f for f in df.inputFiles()]
        if not files or n_rows == 0:
            return None
        pf = pq.ParquetFile(files[0])
        batch = next(pf.iter_batches(batch_size=1))
        dim = elem = None
        import pyarrow as pa

        for col in batch.schema.names:
            typ = batch.schema.field(col).type
            if pa.types.is_list(typ) or pa.types.is_large_list(typ):
                dim = len(batch.column(col)[0].as_py())
                elem = typ.value_type.bit_width // 8
                break
        if dim is None:
            return None
        # x2: measured LongHashedRelation overhead over the nominal row
        # bytes (the sf100 rehearsal built 8.1GiB from a 4.2GB estimate)
        return n_rows * (dim * elem + 48) * 2
    except Exception:
        return None


def near_dup_pairs_from_index(
    df: DataFrame,
    path: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a `build_srp_index` index: candidate pairs from a self-join of
    the persisted blocking rows (band,bucket equi-join — no re-projection),
    then exact rounded-cosine scoring against the live vectors. Same output
    and bit-identical values as `embedding_near_dup_pairs`; the projection
    cost is paid at index-build time instead of per query.

    Scoring is one expression path: per-pair folds over a stats-sized
    vector attach (below).  A per-worker gather kernel (vector matrix
    loaded from the source parquet, one einsum per Arrow batch of pairs)
    measured ~5x slower at sf0.1 and no faster at sf1; a faster scorer
    needs an index-build vector sidecar and a measured win."""
    import os

    from esper_tv_spark.operators.similarity import dot

    from esper_tv_spark.plans.partitions import advise_for_df

    spark = df.sparkSession
    bands = spark.read.parquet(os.path.join(path, "bands"))
    norms = spark.read.parquet(os.path.join(path, "norms"))
    # the band self-join fans out ~occupancy x bands / 2 candidate rows
    # per vector; size its shuffle from the persisted index bytes
    advise_for_df(bands, blowup=16.0)
    # NO distinct before scoring: bands produce mostly-disjoint random
    # collisions (measured ~3% overlap at occupancy ~31 x 16 bands), so a
    # pre-scoring distinct shuffles the full multi-million-pair stream to
    # save ~3% of one-dot-per-pair work. Score everything map-side and
    # dedup AFTER the threshold filter, where survivors are thousands,
    # not millions.
    cand = (
        bands.select("band", "bucket", F.col("id").alias("id_a"))
        .join(bands.select("band", "bucket", F.col("id").alias("id_b")), ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # vectors stay in their SOURCE element width (float32 halves the
    # broadcast relation vs an eager array<double> cast; dot() casts each
    # element inside the expression, so the scored doubles are identical)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    an = vecs.join(norms, "id").select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("__na")
    )
    bn = vecs.join(norms, "id").select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("__nb")
    )
    # STATS-DRIVEN vector attach (sized from the norms footer row count x
    # a one-row parquet dim probe — metadata reads, no Spark job).
    # Candidate pairs outnumber vectors by occupancy*bands/2 (~250x), so
    # the map-side (broadcast) lookup is the RIGHT plan whenever the
    # vector table fits executor memory: the alternative shuffle join
    # carries 2 x dim doubles per PAIR through an exchange — ~1TB at
    # n=2M/256-dim, three orders over the 4.2GB table it avoids moving.
    # The cutoff is TWO-SIDED: est_bytes <= 6GB (headroom under Spark's
    # 8GB broadcast-relation cap) AND both relations fit the session's
    # actual heap budget (broadcast_budget_bytes — the sf100 rehearsal's
    # 2 x 8.1GiB builds fit its 48g JVM but OOM'd get_spark's default 8g
    # heap, so the plan choice must follow the memory the session was
    # GIVEN).  Beyond the budget the plain co-partitioned shuffle join
    # stands, with the documented multi-TB exchange spread across the
    # cluster — at that corpus size a deployment pre-buckets the index
    # and vector tables by id so the attach is shuffle-free.
    from esper_tv_spark.plans.partitions import broadcast_budget_bytes

    est_bytes = _estimated_vector_bytes(df, os.path.join(path, "norms"))
    if est_bytes is None:
        # distinguish WHY the estimate failed: a table with no backing
        # files is driver-created (createDataFrame) and therefore small —
        # broadcast, as this path always did before the cutoff existed.  A
        # file-backed table whose footers we cannot read (remote FS, odd
        # layout) gets the conservative shuffle join — but say so, because
        # the plan cliff is ~3 orders of magnitude on the pair stream.
        if not df.inputFiles():
            an, bn = F.broadcast(an), F.broadcast(bn)
        else:
            import warnings

            warnings.warn(
                "near_dup_pairs_from_index: could not estimate the vector "
                "table size from parquet footers; falling back to a shuffle "
                "join for the pair attach. If the table fits executor "
                "memory, broadcast it by making the footers readable.",
                stacklevel=2,
            )
    elif (
        est_bytes <= 6 * 1024 * 1024 * 1024
        and 2 * est_bytes <= broadcast_budget_bytes(spark)
    ):
        an, bn = F.broadcast(an), F.broadcast(bn)
    j = cand.join(an, "id_a").join(bn, "id_b")
    sim = F.round(dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")), 6)
    return (
        j.select("id_a", "id_b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= F.lit(threshold))
        .distinct()
    )


def simhash(df: DataFrame, n_bits: int = 32, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash per document over tokens: token hash = low `n_bits` bits of
    md5; for each bit position sum (+1/-1); simhash bit = sign. Implemented
    relationally (explode bit positions) — no UDF, deterministic.

    Output: (doc_id, simhash bigint)."""
    toks = tokenize(df, text_col).select(F.col(id_col), F.explode("tokens").alias("token"))
    # low n_bits of md5 via hex prefix -> bigint (15 hex chars = 60 bits max)
    nhex = (n_bits + 3) // 4
    h = F.conv(F.substring(F.md5(F.col("token")), 1, nhex), 16, 10).cast("long")
    tb = toks.withColumn("h", h)
    # one aggregation column per bit (map-side partials over the token rows)
    # instead of exploding tokens x n_bits rows into a fat shuffle. Each
    # column sums the RAW BIT (0/1), not a +1/-1 CASE: sign(sum(+-1)) ==
    # (2*sum(bit) > n_tokens) — identical simhash values, ~30% cheaper per
    # token (measured at sf0.1: the when/otherwise chain was the hot loop).
    bit_sums = [
        F.sum(F.expr(f"shiftright(h, {b}) & 1")).alias(f"s_{b}") for b in range(n_bits)
    ]
    per_doc = tb.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_sums)
    sh = None
    for b in range(n_bits):
        bitval = F.when(
            F.col(f"s_{b}") * 2 > F.col("__n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sh = bitval if sh is None else sh + bitval
    return per_doc.select(F.col(id_col), sh.alias("simhash"))


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a pair table -> (node, component) with
    component = the minimum node id in the component.

    This is the step after candidate-pair verification: near-dup PAIRS must
    become near-dup GROUPS before "keep one per group" dedup, or chains
    (A~B, B~C) survive as partial duplicates. The reference never needs it
    (its dedup is per-video exact), but any corpus-scale pipeline does.

    Min-label propagation with pointer jumping: each round every node takes
    the minimum label over its closed neighborhood (one join + groupBy),
    then short-circuits through the label graph (comp <- comp's comp, one
    more join). The jump doubles the propagation radius per round, so a
    path of length D converges in O(log D) rounds — neighbor-min alone
    would need D rounds. Each round is a fixed number of shuffles, all
    distributed; the driver only reads the convergence counter.
    localCheckpoint per round truncates the exponential lineage. Raises
    RuntimeError if `max_iters` rounds do not converge (silent partial
    labels would corrupt the downstream dedup).
    """
    from esper_tv_spark.plans.partitions import advise_for_df

    advise_for_df(edges, blowup=4.0)
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    labels = sym.groupBy("src").agg(F.min("dst").alias("comp")).select(
        F.col("src").alias("node"), F.least("comp", "node").alias("comp")
    )
    for _ in range(max_iters):
        # min over the closed neighborhood
        nbr = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select("src", "comp")
            .unionByName(labels.select(F.col("node").alias("src"), "comp"))
            .groupBy("src")
            .agg(F.min("comp").alias("comp"))
            .select(F.col("src").alias("node"), "comp")
        )
        # pointer jump: follow the label's own label
        m = nbr.select(F.col("node").alias("c_node"), F.col("comp").alias("c_comp"))
        jumped = (
            nbr.join(m, nbr["comp"] == m["c_node"], "left")
            .select("node", F.least("comp", F.coalesce("c_comp", "comp")).alias("comp"))
        )
        joined = labels.select("node", F.col("comp").alias("old_comp")).join(jumped, "node")
        changed = joined.where(F.col("comp") < F.col("old_comp")).count()
        labels = joined.select("node", "comp").localCheckpoint()
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Canonical dedup: annotate every document with its near-dup group and
    whether it is the keeper (minimum id of the group; singletons keep
    themselves). Output: df columns + (group_id, is_keeper)."""
    comp = connected_components(pairs, a_col, b_col)
    out = df.join(comp, df[id_col] == comp["node"], "left").drop("node")
    return out.withColumn("group_id", F.coalesce("comp", F.col(id_col))).drop("comp").withColumn(
        "is_keeper", F.col("group_id") == F.col(id_col)
    )


def recommended_clusters(
    n_vectors: int, dim: int | None = None, max_flops: float | None = None
) -> int:
    """Cluster count for semantic_dedup at a given corpus size: k =
    round(sqrt(n)), which BALANCES the operator's two costs — centroid
    assignment scores n*k (vector, centroid) rows, the within-cluster
    pair join scores sum(n_c^2) ~ n^2/k — so total work is Theta(n^1.5 *
    dim), minimized over k.  The round-4 occupancy-64 rule (k ~ n/64)
    kept the PAIR join linear but made the ASSIGNMENT n^2/64 — at the
    100x rehearsal the assignment was 50x the pair volume and dominated
    the wall; a pinned k is worse still (pair join quadratic one decade
    up, the q51 lesson).

    Rounds HALF-UP (floor(x + 0.5)), not Python banker's rounding, so a
    SQL oracle can recompute the identical k from count(*) — sqrt is
    IEEE-exact on both engines and the +0.5 never lands on an integer
    boundary (it would need sqrt(n) = m + 0.5 exactly, impossible for
    integer n).

    COST-MODEL CEILING (`max_flops`, requires `dim`): sqrt-balance is
    Theta(n^1.5 * dim) TOTAL, which is infeasible at 10^10+ vectors even
    on the BLAS path.  Production SemDeDup (Abbas et al. 2023 run k =
    50000 over 200M LAION vectors, far below sqrt) PINS k so the
    assignment (~2*dim*n*k flops) fits a budget and accepts the n^2/k
    pair join as the explicit remainder — the within-cluster blocks are
    straggler-bounded by semantic_dedup's triangle grid and scored on
    the Arrow/BLAS path (fast_assign defaults True whenever centroids
    are caller-frozen, i.e. every production scoring call).  With a
    budget: k = min(sqrt-balance, max_flops / (4*dim*n)) — the
    assignment spends at most half the budget — never below 2.  The
    oracle-gated contract path passes no budget, so the SQL-replayable
    formula is unchanged."""
    import math

    k_bal = max(2, int(math.sqrt(max(n_vectors, 2)) + 0.5))
    if max_flops is None:
        return k_bal
    if dim is None:
        raise ValueError("recommended_clusters: max_flops requires dim for the cost model")
    k_pin = int(max_flops / (4.0 * dim * max(n_vectors, 1)))
    return max(2, min(k_bal, k_pin))


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    round_digits: int = 6,
    fast_assign: bool | None = None,
    block_rows: int = 1024,
    fast_pairs: bool | None = None,
    cluster_probes: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    semantic deduplication by k-means blocking.  Vectors are assigned to
    clusters (one closed-form Lloyd step with deterministic init, or
    caller-frozen `centroids` — the same split as q48: pyspark.ml trains,
    the frozen assignment scores at scale), then WITHIN each cluster a
    vector is a duplicate iff a strictly-smaller-id cluster-mate has
    rounded cosine >= threshold ("keep the earliest" — deterministic, no
    random representative choice).

    Reference parity: esper-tv dedups face embeddings by exact-pair scan
    (face_embeddings.py:129-131 neighborhood queries); SemDeDup is the
    corpus-scale generalization the training-data pipeline needs.

    Scale shape (100 TB): the cluster id is the blocking key — the pair
    join is an EQUI-join on `cluster` (one shuffle), never O(n^2); cost
    is sum(n_c^2) ~ n^2/k, balanced against the n*k centroid assignment
    by `recommended_clusters` (k ~ sqrt(n), total Theta(n^1.5 * dim)).
    Centroid assignment is a broadcast of k centroid rows + a map-side
    min(struct) argmin (no n*k shuffle).  No driver-side work: the whole
    operator is one declarative plan.

    Output: (id_col, cluster, is_dup) — every input vector, its cluster,
    and whether SemDeDup drops it.

    `cluster_probes=p` (BLAS paths only) is the RECALL knob: each vector
    joins its p nearest clusters for pair discovery while the output
    still reports the primary cluster, one row per vector.  Measured at
    sf1 (20.5k vecs, 256-dim, 500 planted ~0.95-cosine pairs, frozen
    rank centroids): single-probe blocking catches 74.0% of the plants
    (boundary-straddling pairs are invisible to same-cluster blocking);
    p=2 catches 97.4%, p=3 99.8% — zero false positives throughout, and
    the pair-scoring cost grows only by the membership overlap (the
    wall stayed within ~2x).  SemDeDup's paper blocking is p=1; this is
    the standard multi-probe refinement IVF search uses, applied to the
    dedup blocking.

    Fast paths (both default ON when `centroids` are caller-frozen, i.e.
    every production scoring run; the deterministic-init contract path a
    SQL oracle replays keeps the expression folds): `fast_assign` scores
    the n*k centroid assignment as Arrow-batched BLAS
    (lloyd_assign_blas); `fast_pairs` scores each triangle-grid cell's
    within-cluster cosines as one GEMM in applyInPandas
    (_semantic_dedup_pairs_blas) — the interpreted HOF fold costs ~0.5ms
    per 256-dim pair, which makes the n^2/k pair stream DAYS at n=2M
    where BLAS is minutes (sf100 rehearsal numbers in NEXT_STEPS)."""
    from esper_tv_spark.operators.similarity import dot, lloyd_assign, lloyd_assign_blas
    from esper_tv_spark.plans.partitions import advise_for_df

    # the within-cluster pair join materializes ~occupancy/2 partner
    # vectors per row (2 x dim doubles each) — size its shuffle from the
    # corpus bytes, not the session default (the q37 sf100 lesson)
    advise_for_df(df, blowup=64.0)

    # fast_assign: Arrow-batched BLAS assignment (~100x cheaper per scored
    # pair — interpreted HOF dots vs GEMM).  Default RESOLVES BY PATH:
    # caller-frozen centroids mean a production scoring run (no SQL oracle
    # replays a frozen-model pipeline) -> BLAS; centroids=None is the
    # deterministic-init contract path -> the expression fold the oracle
    # replays bit-exact.  Explicit True/False always wins.
    if fast_assign is None:
        fast_assign = centroids is not None
    # cluster_probes > 1 = MULTI-PROBE blocking: each vector belongs to
    # its p nearest clusters for pair DISCOVERY (a ~0.95-cosine pair can
    # straddle a cluster boundary — single-assignment blocking measured
    # only 74% planted-pair recall at sf1; p=2 recovers the boundary
    # pairs), while the OUTPUT still reports the primary (__rank 0)
    # cluster and exactly one row per vector.  Cost: pair volume grows
    # ~p^2/2-fold worst case (each membership meets the others), so p
    # stays small (2-3).  BLAS paths only — the expression path is the
    # oracle-replayed single-probe contract.
    if cluster_probes > 1 and not fast_assign:
        raise ValueError(
            "semantic_dedup: cluster_probes > 1 requires fast_assign "
            "(multi-probe is the production recall knob; the oracle-gated "
            "expression path is single-probe by contract)"
        )
    if cluster_probes > 1:
        multi = lloyd_assign_blas(
            df, centroids=centroids, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits, n_probe=cluster_probes,
        )
        from esper_tv_spark.plans.cache import register_persisted as _rp

        # both the membership table (pair discovery) and its rank-0 slice
        # (primary cluster for the output) consume this — persist once
        multi = _rp("semantic_dedup.multi", multi)
        assign = multi.drop("__rank")
        primary = multi.where(F.col("__rank") == 0).select(id_col, "cluster")
    else:
        assigner = lloyd_assign_blas if fast_assign else lloyd_assign
        assign = assigner(
            df, centroids=centroids, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        )
        primary = None
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    vn = vecs.withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    # PERSIST the (id, cluster, vector, norm) table: both sides of the
    # self-join consume it, and without materialization Spark re-runs the
    # whole n x k Lloyd scoring once per side (ReusedExchange does not
    # fire across the two differently-projected subtrees — measured 2x
    # assignment wall at sf1). n rows of vector+norm, spill-safe.
    from pyspark.sql import Window

    # Block index within each cluster (ordered by id, blocks of
    # `block_rows`): the within-cluster all-pairs join is decomposed into
    # a TRIANGLE GRID — pair (a, b) with blocks (i <= j) lands in exactly
    # grid cell (i, j), so a HOT cluster's n_c^2/2 pair scorings spread
    # over ~B^2/2 independent join cells instead of ONE task. Lloyd
    # one-step clusters are heavy-tailed (sf1: max cluster 10x the mean),
    # and the cluster id is the shuffle key, so without the grid the
    # biggest cluster is a straggler task that idles the rest of the
    # cluster — AQE cannot split it because its partition is small in
    # BYTES (the cost is quadratic compute, invisible to size stats).
    # Clusters smaller than `block_rows` have B=1: one copy per side,
    # exactly the ungridded join.
    wseq = Window.partitionBy("cluster").orderBy(F.col(id_col).asc())
    from esper_tv_spark.plans.cache import register_persisted

    # site-keyed persist: bounds the cached-table leak to ONE live table
    # across repeat invocations (bench loops run this at several scales);
    # plans.cache.release_all() is the explicit suite-runner cleanup
    sided = register_persisted(
        "semantic_dedup.sided",
        assign.join(vn, id_col)
        .withColumn("__blk", ((F.row_number().over(wseq) - 1) / block_rows).cast("int"))
        .withColumn("__maxblk", F.max("__blk").over(Window.partitionBy("cluster"))),
    )
    # The assignment subtree feeds the pair join TWICE (probe + candidate
    # side) and nothing else: the annotated output falls out of a left
    # join + aggregate, so the Lloyd plan is not evaluated a third time
    # and no post-hoc distinct/join-back is needed. persist() because
    # ReusedExchange does not fire across the two differently-projected
    # subtrees (measured 2x assignment wall at sf1 without it).
    #
    # fast_pairs: score each grid cell as ONE numpy GEMM inside
    # applyInPandas instead of per-pair interpreted HOF dots.  The
    # expression fold costs ~0.5ms per 256-dim pair (measured: the whole
    # exact q85 at 10x is 138s for 5.8M scored rows) — at n=2M / k=sqrt(n)
    # the n^2/k pair stream is ~3e9 dots, DAYS interpreted vs ~minutes as
    # BLAS.  Same default rule as fast_assign (frozen centroids =
    # production scoring); the oracle-gated contract path keeps the fold.
    # BLAS summation order can flip a verdict whose rounded cosine sits
    # within ~1e-10 of the threshold — the documented fast-path trade.
    if fast_pairs is None:
        fast_pairs = centroids is not None
    if cluster_probes > 1 and not fast_pairs:
        raise ValueError(
            "semantic_dedup: cluster_probes > 1 requires fast_pairs "
            "(the expression pair path is the single-probe contract)"
        )
    if fast_pairs:
        out = _semantic_dedup_pairs_blas(
            sided, id_col=id_col, threshold=threshold, round_digits=round_digits
        )
        if cluster_probes > 1:
            # verdict = caught in ANY probed membership; output one row
            # per vector carrying its PRIMARY (__rank 0) cluster
            verdict = out.groupBy(id_col).agg(F.max("is_dup").alias("is_dup"))
            return primary.join(verdict, id_col)
        return out

    # a = the smaller-id (candidate) side, replicated to every grid
    # column >= its own block; b = the probe side, replicated to every
    # grid row <= its own block. blocks are id-ordered, so id_b > id_a
    # implies blk_b >= blk_a and every valid pair is covered exactly once.
    a = sided.select(
        F.col("cluster").alias("__ca"),
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        F.col("__blk").alias("__bx"),
        F.explode(F.sequence(F.col("__blk"), F.col("__maxblk"))).alias("__by"),
    )
    b = sided.select(
        F.col("cluster").alias("__cb"),
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.col("__blk").alias("__by"),
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__bx"),
    )
    sim = F.round(dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), round_digits)
    # Equi-key on (cluster, grid cell) keeps this a hash/merge join; the
    # id inequality rides along as an extra condition.  Left-outer keeps
    # vectors with no earlier cluster-mate (keepers by definition) — the
    # b side emits blk+1 replicas, and the per-id aggregation collapses
    # them (unmatched replicas contribute the coalesce(False) arm).
    joined = b.join(
        a,
        (F.col("__cb") == F.col("__ca"))
        & (b["__bx"] == a["__bx"])
        & (b["__by"] == a["__by"])
        & (F.col("__idb") > F.col("__ida")),
        "left",
    )
    return joined.groupBy(
        F.col("__idb").alias(id_col), F.col("__cb").alias("cluster")
    ).agg(
        F.coalesce(F.max(sim >= F.lit(threshold)), F.lit(False)).alias("is_dup")
    )


def _semantic_dedup_pairs_blas(
    sided: DataFrame, id_col: str, threshold: float, round_digits: int
) -> DataFrame:
    """semantic_dedup's production pair-scoring path: the same triangle
    grid, but each cell's cross-block cosines are ONE float64 GEMM inside
    applyInPandas instead of a per-pair expression fold.

    Rows are tagged a-side (replicated to grid columns >= own block) and
    b-side (rows <= own block), unioned, grouped by (cluster, bx, by);
    the cell kernel computes sims = (B/|B|) @ (A/|A|).T rounded at
    `round_digits` and emits ONE row per b-side member — (id, cluster,
    had a smaller-id mate >= threshold in this cell) — so the shuffle
    after scoring carries n * (blocks_per_row) tiny rows, never the pair
    stream.  A final per-id max() merges cell verdicts (every row sees
    its own diagonal cell, so keepers emit too).  Work: sum(n_c^2) * dim
    flops in BLAS (~0.1ns/flop) vs ~0.5ms per interpreted pair — the
    difference between days and minutes at n=2M."""
    import pandas as pd

    import numpy as np

    a = sided.select(
        F.col("cluster"),
        F.col("__blk").alias("__bx"),
        F.explode(F.sequence(F.col("__blk"), F.col("__maxblk"))).alias("__by"),
        F.lit(0).alias("__side"),
        F.col(id_col).alias("__id"),
        F.col("__v"),
        F.col("__n"),
    )
    b = sided.select(
        F.col("cluster"),
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__bx"),
        F.col("__blk").alias("__by"),
        F.lit(1).alias("__side"),
        F.col(id_col).alias("__id"),
        F.col("__v"),
        F.col("__n"),
    )
    tagged = a.unionByName(b)

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"__id": [], "cluster": [], "__dup": []})
        av = pdf[pdf["__side"] == 0]
        bv = pdf[pdf["__side"] == 1]
        if len(bv) == 0:
            return pd.DataFrame({"__id": [], "cluster": [], "__dup": []})
        out_dup = np.zeros(len(bv), dtype=bool)
        if len(av):
            amat = np.array(av["__v"].tolist(), dtype=np.float64)
            bmat = np.array(bv["__v"].tolist(), dtype=np.float64)
            an = av["__n"].to_numpy(dtype=np.float64)
            bn = bv["__n"].to_numpy(dtype=np.float64)
            from esper_tv_spark.operators.similarity import _round_half_away

            sims = _round_half_away(
                (bmat @ amat.T) / (bn[:, None] * an[None, :]), round_digits
            )
            smaller = av["__id"].to_numpy()[None, :] < bv["__id"].to_numpy()[:, None]
            out_dup = ((sims >= threshold) & smaller).any(axis=1)
        return pd.DataFrame(
            {
                "__id": bv["__id"].to_numpy(),
                "cluster": bv["cluster"].to_numpy(),
                "__dup": out_dup,
            }
        )

    # the id column keeps ITS OWN type through the kernel (the expression
    # path never casts it either): a hardcoded `long` would crash or
    # miscast string/int ids the moment fast_pairs routes them here
    id_type = sided.schema[id_col].dataType.simpleString()
    cells = tagged.groupBy("cluster", "__bx", "__by").applyInPandas(
        score_cell, schema=f"__id {id_type}, cluster long, __dup boolean"
    )
    return cells.groupBy(F.col("__id").alias(id_col), "cluster").agg(
        F.max("__dup").alias("is_dup")
    )


def lsh_plan(
    n_hashes: int,
    threshold: float,
    grid: int = 200,
) -> "dict":
    """Pick the (n_bands, rows_per_band) banding for a target Jaccard
    threshold — the S-curve sizing every MinHash deployment does by
    hand.  A (b, r) banding catches a pair of Jaccard s with
    probability p(s) = 1 - (1 - s^r)^b; the best plan for threshold t
    minimizes the total error mass
        FP = ∫_0^t p(s) ds   +   FN = ∫_t^1 (1 - p(s)) ds
    (uniform similarity prior — the standard MMDS ch.3 sizing; callers
    with a known pair-similarity distribution can reweight, but the
    crossover point this picks, near (1/b)^(1/r), is what matters and
    is prior-insensitive).  Exhaustive over the divisor pairs
    b * r = n_hashes with trapezoid integration on `grid` points —
    driver-side, microseconds, deterministic.

    Returns {"n_bands", "rows_per_band", "crossover", "fp_area",
    "fn_area"} ready to splat into lsh_candidate_pairs /
    lsh_near_dup."""
    if n_hashes <= 0:
        raise ValueError("n_hashes must be positive")
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r

        def p(s: float) -> float:
            return 1.0 - (1.0 - s**r) ** b

        step = 1.0 / grid
        fp = fn = 0.0
        for i in range(grid):
            s0, s1 = i * step, (i + 1) * step
            mid0, mid1 = p(s0), p(s1)
            seg = (mid0 + mid1) / 2.0 * step
            if s1 <= threshold:
                fp += seg
            elif s0 >= threshold:
                fn += step - seg
            else:  # straddling segment: split at t
                lo = (p(s0) + p(threshold)) / 2.0 * (threshold - s0)
                hi = (p(threshold) + p(s1)) / 2.0 * (s1 - threshold)
                fp += lo
                fn += (s1 - threshold) - hi
        err = fp + fn
        if best is None or err < best[0]:
            best = (err, b, r, fp, fn)
    _, b, r, fp, fn = best
    return {
        "n_bands": b,
        "rows_per_band": r,
        "crossover": round((1.0 / b) ** (1.0 / r), 4),
        "fp_area": round(fp, 4),
        "fn_area": round(fn, 4),
    }


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 6,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_docs: int | None = None,
    dup_via_window: bool | None = None,
) -> DataFrame:
    """Maximal cross-document repeated token spans — exact substring-level
    dedup (the "repeated n-gram span removal" pass LLM corpora run after
    document-level dedup; the reference's dedup story stops at whole
    captions, face_embeddings.py:74-96, so this extends it to spans).

    Semantics: a token n-gram is *duplicated* when it occurs in >=
    `min_docs` DISTINCT documents.  Per document, overlapping or adjacent
    duplicated n-gram start positions (p' <= p + n) merge into one maximal
    span.  Returns (id, span_start, span_end, span_tokens, n_grams) with
    token-index half-open spans [span_start, span_end).

    Shape (and why it scales): the n-gram table is built INSIDE the token
    array with higher-order functions (transform over sequence -> md5 of
    concat_ws over slice), so the only exploded payload is (id, p, 16-byte
    hash) — the token array itself is never duplicated per position.  Dup
    detection is ONE window over the gram table partitioned by h
    (size(collect_set(id)) per hash = the exact distinct-doc count; no
    pair blowup, no join): the r10 reshape of the original
    groupBy(h) + semi-join-back plan, which shuffled the gram table
    TWICE and recomputed the tokenize+explode once per consumer
    (guide §2.4 — measured at sf0.1: 3 exchanges -> 2, 2.33s -> ~1.4s,
    byte-identical output).  The window buffers each gram's distinct-doc
    set in ONE partition, so `dup_via_window=None` (default) keeps it
    only below corpus scale (input-bytes heuristic, same stance as
    lsh_near_dup's cache_shingles); past the threshold the two-shuffle
    groupBy(h)+count_distinct + semi-join-back returns — identical
    output (parity-pinned in tests), bounded per-task state.  Span
    merging is one window per doc (gaps-and-islands).

    `max_gram_docs` drops grams above a document-frequency ceiling BEFORE
    the join back — the MOSS-style over-common-fingerprint drop
    (boilerplate headers shared by millions of docs would otherwise tag
    most of the corpus as "duplicated"); audit what a cap drops by running
    with and without on a sample.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokenize(df, text_col)
    grams = toks.where(F.size("tokens") >= n).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(tokens) - {n}), "
                f"i -> struct(i as p, md5(concat_ws(' ', slice(tokens, i + 1, {n}))) as h))"
            )
        ).alias("g"),
    ).select(id_col, F.col("g.p").alias("p"), F.col("g.h").alias("h"))

    if dup_via_window is None:
        # The window buffers each gram's FULL distinct-doc id set in one
        # window partition before max_gram_docs can drop anything — a
        # stop-word gram appearing in millions of docs is a per-task
        # memory cliff at corpus scale (r10 ADVICE).  Decide from THIS
        # input's bytes, same stance as lsh_near_dup's cache_shingles:
        # window (one shuffle, faster — measured at sf0.1) only while
        # the exploded gram stream stays below the session's partition
        # floor x 256MB tasks; past that the two-shuffle groupBy +
        # semi-join bounds per-task state to running aggregates.
        from esper_tv_spark.plans.partitions import input_bytes

        try:
            files = df.inputFiles()
        except Exception:
            files = []
        paths = [f[7:] if f.startswith("file://") else f for f in files]
        floor_n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        dup_via_window = (not paths) or (
            input_bytes(paths) * 8.0 / (256 * 1024 * 1024) <= floor_n
        )
    if dup_via_window:
        wh = Window.partitionBy("h")
        nd = F.size(F.collect_set(id_col).over(wh))
        keep = nd >= F.lit(min_docs)
        if max_gram_docs is not None:
            keep = keep & (nd <= F.lit(max_gram_docs))
        hits = grams.withColumn("__keep", keep).where("__keep").drop("__keep")
    else:
        nd_tbl = grams.groupBy("h").agg(
            F.count_distinct(F.col(id_col)).alias("__nd")
        )
        keep = F.col("__nd") >= F.lit(min_docs)
        if max_gram_docs is not None:
            keep = keep & (F.col("__nd") <= F.lit(max_gram_docs))
        hits = grams.join(nd_tbl.where(keep).select("h"), "h", "left_semi")

    w = Window.partitionBy(id_col).orderBy("p")
    brk = F.when(F.col("p") > F.lag("p").over(w) + F.lit(n), 1).otherwise(0)
    isl = hits.withColumn("gid", F.sum(brk).over(w))
    return (
        isl.groupBy(id_col, "gid")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(n)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
            "n_grams",
        )
    )


def edit_similarity_join(
    df: DataFrame,
    t: int = 2,
    id_col: str = "doc_id",
    str_col: str = "s",
) -> DataFrame:
    """Edit-distance similarity self-join via PassJoin segment blocking —
    record linkage / fuzzy key matching at corpus scale (Li, Deng, Feng:
    "PassJoin: A Partition-based Method for Similarity Joins", VLDB 2012).
    The reference's dedup story is whole-item equality or vector proximity
    (face_embeddings.py:74-96); this adds the STRING near-match family
    (dirty ids, OCR'd titles, user-typed names) with a provably complete
    candidate filter, never the O(n^2) cross join.

    Semantics (exact): all unordered pairs (a, b), id_a < id_b, with
    ``levenshtein(s_a, s_b) <= t``.  Returns (id_a, id_b, dist).

    Shape: each string of length l is even-partitioned into t+1 segments
    (PassJoin convention: the last ``l mod (t+1)`` segments take the extra
    char).  Pigeonhole: <= t edits cannot touch all t+1 segments, so for
    any matching pair the LONGER string contains one of the shorter
    string's segments VERBATIM, shifted by at most t positions.  Candidate
    generation is therefore one equi-join: the index side emits its t+1
    (len, segno, segment) keys; the probe side emits, for every candidate
    shorter length l2 in [l-t, l] and segment slot, the O(t) substrings
    inside the shift window — (t+1)^2*(2t+1) ~ 45 probe rows per string at
    t=2, all built inside array expressions (explode of a flattened
    transform, no Python).  Exact verification (built-in ``levenshtein``,
    whole-stage codegen) runs on the DISTINCT candidate pairs only.
    Strings shorter than t+1 chars (where pigeonhole has no nonempty
    segment) fall back to a length-banded block against strings of length
    <= 2t — bounded by construction since both sides are O(t) chars.

    Scale note: block keys are (length, segno, segment-text); a boilerplate
    segment shared by a large fraction of the corpus creates a hot block
    exactly like an over-common LSH bucket — audit with a
    ``groupBy(block_key).count()`` and cap or salt as in
    `oversized_lsh_buckets` if the data has constant prefixes.
    """
    if t < 1:
        raise ValueError("t must be >= 1")
    from esper_tv_spark.plans.cache import register_persisted

    t1 = t + 1
    s = df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s")).where(
        F.col(str_col).isNotNull()
    )
    # (_id, _s, _l) is consumed by SIX branches of the returned plan
    # (index segments, probe substrings, both short-fallback sides, both
    # verify sides) — uncached, Catalyst re-derives the caller's string
    # projection once per reference (guide §2.4); the row is a few dozen
    # bytes, so the site-keyed persist is strictly cheaper at any scale
    base = register_persisted(
        "dedup.edit_similarity_join.base",
        s.select("_id", "_s", F.length("_s").alias("_l")),
    )

    # --- index side: t+1 segments per string (lengths >= t+1 only) -------
    seg_expr = (
        f"transform(sequence(0, {t}), i -> struct("
        f"i as segno, "
        f"substring(_s, i * (_l div {t1}) + greatest(0, i - ({t1} - _l % {t1})) + 1, "
        f"(_l div {t1}) + if(i >= {t1} - _l % {t1}, 1, 0)) as seg))"
    )
    idx = (
        base.where(F.col("_l") >= t1)
        .select(
            F.col("_id").alias("id_i"),
            F.col("_l").alias("l_i"),
            F.explode(F.expr(seg_expr)).alias("g"),
        )
        .select("id_i", "l_i", F.col("g.segno").alias("segno"), F.col("g.seg").alias("seg"))
    )

    # --- probe side: candidate substrings for every shorter length -------
    # For each l2 in [max(t+1, _l - t), _l] and segno i, the segment of a
    # length-l2 string has start st(l2,i) and length ln(l2,i); a <= t edit
    # script shifts it by at most t, so probe substrings at
    # p in [st - t, st + t] (clamped) of length ln.
    probe_expr = (
        f"flatten(transform(sequence(greatest({t1}, _l - {t}), _l), l2 -> "
        f"flatten(transform(sequence(0, {t}), i -> "
        f"transform("
        f"  if(greatest(0, i * (l2 div {t1}) + greatest(0, i - ({t1} - l2 % {t1})) - {t}) > "
        f"     least(_l - ((l2 div {t1}) + if(i >= {t1} - l2 % {t1}, 1, 0)), "
        f"           i * (l2 div {t1}) + greatest(0, i - ({t1} - l2 % {t1})) + {t}), "
        f"     array(), "
        f"     sequence("
        f"       greatest(0, i * (l2 div {t1}) + greatest(0, i - ({t1} - l2 % {t1})) - {t}), "
        f"       least(_l - ((l2 div {t1}) + if(i >= {t1} - l2 % {t1}, 1, 0)), "
        f"             i * (l2 div {t1}) + greatest(0, i - ({t1} - l2 % {t1})) + {t}))), "
        f"  p -> struct(l2 as l2, i as segno, "
        f"       substring(_s, p + 1, (l2 div {t1}) + if(i >= {t1} - l2 % {t1}, 1, 0)) as sub)"
        f")))))"
    )
    probe = (
        base.where(F.col("_l") >= t1)
        .select(F.col("_id").alias("id_p"), F.explode(F.expr(probe_expr)).alias("g"))
        .select("id_p", F.col("g.l2").alias("l2"), F.col("g.segno").alias("segno"),
                F.col("g.sub").alias("sub"))
    )

    cand = (
        probe.join(
            idx,
            (probe["l2"] == idx["l_i"])
            & (probe["segno"] == idx["segno"])
            & (probe["sub"] == idx["seg"])
            & (probe["id_p"] != idx["id_i"]),
        )
        .select(
            F.least("id_p", "id_i").alias("id_a"),
            F.greatest("id_p", "id_i").alias("id_b"),
        )
        .distinct()
    )

    # --- short-string fallback: l <= t has no nonempty pigeonhole segment;
    # a match partner is within length band t, so both sides are <= 2t
    # chars — band-join the (tiny by construction) short set directly.
    short = base.where(F.col("_l") < t1)
    near_short = base.where(F.col("_l") <= 2 * t)
    cand_short = (
        short.alias("a")
        .join(
            near_short.alias("b"),
            (F.abs(F.col("a._l") - F.col("b._l")) <= t)
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        )
        .distinct()
    )
    cand = cand.unionByName(cand_short).distinct()

    # --- exact verify on candidates only ---------------------------------
    sa = base.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = base.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.levenshtein("_sa", "_sb") <= t)
        .select("id_a", "id_b", F.levenshtein("_sa", "_sb").alias("dist"))
    )


def set_similarity_join(
    df: DataFrame,
    tau: float,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    AllPairs/PPJoin family: Bayardo, Ma, Srikant "Scaling Up All Pairs
    Similarity Search", WWW 2007) — the deterministic complement to
    MinHash-LSH: same (id_a, id_b, jaccard) output as `lsh_near_dup`'s
    candidates->verify, but with NO probabilistic recall loss; every pair
    with J >= tau is returned, guaranteed.

    Prefix-filter principle: order each document's shingle set by a global
    canonical order (ascending document frequency, ties by text — rare
    tokens first maximizes pruning); if J(A,B) >= tau, the first
    |A| - ceil(tau*|A|) + 1 tokens of A and the corresponding prefix of B
    must share at least one token.  Candidates are therefore one equi-join
    on prefix tokens (+ the length band tau*|A| <= |B| <= |A|/tau, applied
    symmetrically); exact verification (array_intersect on the set arrays)
    runs on distinct candidates only.

    Shape at scale: no global rank is materialized — the canonical order is
    the (df, token) tuple itself, so ordering is a per-row sort_array and
    the only shuffles are the df-count groupBy, the set build, and the
    candidate equi-join on (rare-)prefix tokens.  Skew mirrors LSH buckets:
    a token shared by f docs contributes O(f^2) candidate rows ONLY if it
    appears in prefixes, and df-ascending ordering pushes frequent tokens
    OUT of prefixes — the algorithm's own skew defense.  tau tunes the
    prefix length: higher tau, shorter prefixes, fewer candidates.

    r10 reshape (guide §2.4, byte-identical output): the whole join runs
    over ONE site-persisted shingle-set table.  The original plan built
    the (id, ngram) shingle substrate three times — once each under the
    frequency groupBy and the prefix-set build (the `sh` subtree had two
    consumers), and once more inside `jaccard_pairs`' own
    `shingle_sets(df)` for verification.  Now `shingle_sets` runs once,
    the exploded (id, ngram) view and the verify joins both read the
    cached table (jaccard_pairs' `sets=` seam), and the exploded view's
    distinct-set semantics are identical (explode of the collected
    distinct-shingle array == dropDuplicates of the raw shingle table).
    Measured at sf0.1: 3.2s -> ~2.1s, 13 -> 9 exchanges.
    """
    from esper_tv_spark.plans.cache import register_persisted

    if not (0.0 < tau <= 1.0):
        raise ValueError("tau must be in (0, 1]")
    s = register_persisted(
        "dedup.set_similarity_join.sets",
        shingle_sets(df, shingle_n, id_col, text_col),
    )
    sh = s.select(F.col(id_col), F.explode("shingles").alias("ngram"))
    # document frequency as ONE window count over the exploded view
    # (guide §2.4: the groupBy(ngram)+join-back shape shuffled the full
    # (id, ngram) table twice — once into the freq aggregate, once into
    # the join — and re-derived the explode per consumer; the window
    # computes the identical per-ngram count in a single exchange)
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("ngram"))
    sets = (
        sh.withColumn("dfreq", dfreq)
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("dfreq", "ngram"))).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    plen = (F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + F.lit(1)).cast("int")
    pre = sets.select(
        F.col(id_col).alias("_id"),
        F.col("n"),
        F.explode(F.slice("toks", F.lit(1), plen)).alias("tok"),
    ).select("_id", "n", F.col("tok.ngram").alias("ngram"))

    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ngram") == F.col("b.ngram"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.col("b.n").cast("double") >= F.lit(tau) * F.col("a.n"))
            & (F.col("a.n").cast("double") >= F.lit(tau) * F.col("b.n")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    verified = jaccard_pairs(df, cand, shingle_n, id_col, text_col, sets=s)
    return verified.where(F.col("jaccard") >= F.lit(tau))
