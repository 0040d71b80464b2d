"""Plan-shape regression tests: the optimizations SURVEY §4 promises must
be visible in the physical plan (pushdown, pruning, broadcast, bounded
shuffles)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as m
from esper_tv_spark.plans import (
    choose_band_width,
    count_shuffles,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_q01_pushdown_and_pruning(spark):
    df = m.queries()["q01_pricing_summary"](spark, SF)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    rs = read_schemas(df)
    # 16-column lineitem scan must be pruned to the 6 needed columns
    assert all("l_partkey" not in s and "l_comment" not in s for s in rs), rs


def test_q03_broadcasts_dims(spark):
    df = m.queries()["q03_region_revenue"](spark, SF)
    assert has_broadcast_join(df)


def test_coalesce_is_single_shuffle(spark):
    from esper_tv_spark.operators import intervals as iv

    df = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 20), (2, 0, 3)], "key int, start long, end long"
    )
    out = iv.coalesce(df, ["key"])
    # one shuffle for the window partition; the groupBy reuses the
    # partitioning (ENSURE_REQUIREMENTS sees it's already hash(key))
    assert count_shuffles(out) <= 2


def test_choose_band_width(spark):
    df = spark.createDataFrame(
        [(1, 0, l) for l in [10, 10, 10, 10, 10, 10, 10, 10, 10, 1000]],
        "key int, start long, end long",
    )
    w = choose_band_width(df)
    assert 10 <= w <= 1000


def test_argmax_no_extra_shuffle(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    df = m.queries()["q06_top_order_per_customer"](spark, SF)
    # window argmax: exactly one hash exchange on the partition key
    assert count_shuffles(df) == 1


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-located fact-fact join: both sides bucketed on the key -> the
    join plan contains no Exchange (SURVEY §7.10 bucketing for 100 TB)."""
    from esper_tv_spark.sources.catalog import save_bucketed

    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 13).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("vb"))
    save_bucketed(a, "bj_a", ["k"], 8, path=str(tmp_path / "bj_a"))
    save_bucketed(b, "bj_b", ["k"], 8, path=str(tmp_path / "bj_b"))
    j = spark.table("bj_a").join(spark.table("bj_b"), "k")
    assert count_shuffles(j) == 0
    assert j.count() == 1000


def test_partitioned_layout_prunes(spark, tmp_path):
    """100 TB layout: tables partitioned by a dimension column prune at scan
    time — a channel predicate must reach the scan as a partition filter."""
    from esper_tv_spark.sources.catalog import save_table

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).alias("channel"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / "part_tbl")
    save_table(df, path, partition_by=["channel"])
    q = spark.read.parquet(path).where(F.col("channel") == 2).select(F.sum("v"))
    from esper_tv_spark.plans.introspect import physical_plan

    plan = physical_plan(q)
    assert "PartitionFilters" in plan and "channel" in plan.split("PartitionFilters")[1][:200]
    assert q.collect()[0][0] == sum(i * 2 for i in range(1000) if i % 4 == 2)


def test_q51_banded_near_dup_is_equi_join(spark):
    """The registered near-dup path must be bucket-blocked: candidate
    generation is a hash/sort-merge EQUI-join on (band, bucket), never a
    broadcast-nested-loop all-pairs cross product."""
    from esper_tv_spark.plans.introspect import physical_plan

    df = m.queries()["q51_near_dup_embeddings"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "bucket" in plan


def test_banded_interval_join_is_equi_join(spark):
    """band=W turns the interval theta-join into an equi-join on the band
    key — no nested-loop node in the plan."""
    from esper_tv_spark.operators import intervals as iv
    from esper_tv_spark.plans.introspect import physical_plan

    a = spark.createDataFrame([(1, 0, 10)], "key long, start long, end long")
    b = spark.createDataFrame([(1, 5, 20)], "key long, start long, end long")
    plain = physical_plan(iv.interval_join(a, b, ["key"]))
    banded = physical_plan(iv.interval_join(a, b, ["key"], band=64))
    assert "__band" in banded
    assert "BroadcastNestedLoopJoin" not in banded and "CartesianProduct" not in banded


def test_q80_ivf_probe_is_partition_pruned(spark):
    """The persisted-index probe path: the cells scan must carry a
    PartitionFilters clause on `cell` (only the n_probe probed cells'
    partitions are read), the plan must contain NO join (posting lists
    carry the vectors), and ≤2 exchanges total (two TakeOrdereds)."""
    df = m.queries()["q80_ivf_ann"](spark, SF)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert count_shuffles(df) <= 2


def test_ivf_probe_index_matches_inline(spark, tmp_path):
    """Persisted-index probe returns bit-identical results to the inline
    ivf_topk_deterministic (parquet doubles round-trip exact)."""
    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_index,
        ivf_topk_deterministic,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_cells=16)
    got = [tuple(r) for r in ivf_probe_index(spark, idx, q, 10, n_probe=3).collect()]
    want = [tuple(r) for r in ivf_topk_deterministic(emb, q, 10, n_cells=16, n_probe=3).collect()]
    assert got == want


def test_q88_pq_probe_is_joinless_scan(spark):
    """The persisted PQ store's ADC probe (a one-cell IVF-PQ index): the
    LUT is a literal nested array, so the scoring plan is scan ->
    project -> TakeOrdered — NO join of any kind and zero wide shuffles
    beyond the TakeOrdered."""
    df = m.queries()["q88_pq_adc_topk"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert count_shuffles(df) <= 1


def test_pq_probe_store_matches_inline_adc(spark, tmp_path):
    """The persisted PQ store — a one-cell IVF-PQ index probed at
    n_probe=1 — returns bit-identical results to an inline encode +
    scaled-int ADC replay built from pq_assign_deterministic (parquet
    round-trip exact; BIGINT sum is order-free so the join-based replay
    can't drift)."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        dot,
        ivfpq_build_index,
        ivfpq_probe_index,
        lit_vector,
        pq_assign_deterministic,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim, msub, kcb = 64, 8, 16
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    store = str(tmp_path / "pq")
    ivfpq_build_index(emb, store, n_cells=1, m=msub, k=kcb, dim=dim)
    got = [tuple(r) for r in ivfpq_probe_index(spark, store, q, 10, n_probe=1).collect()]

    codes = pq_assign_deterministic(emb, m=msub, k=kcb, dim=dim)
    sub = dim // msub
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = (
        vecs.orderBy("vec_id")
        .limit(kcb)
        .select(
            F.col("vec_id").alias("code"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("subspace"),
                            F.transform(
                                F.slice("v", j * sub + 1, sub), lambda x: F.round(x, 6)
                            ).alias("sc"),
                        )
                        for j in range(msub)
                    ]
                )
            ).alias("c"),
        )
        .select("code", "c.subspace", "c.sc")
    )
    qsel = F.array(*[lit_vector(q[j * sub : (j + 1) * sub]) for j in range(msub)])
    qs = F.element_at(qsel, F.col("subspace") + 1)
    sd2 = F.round(
        F.round(dot(qs, qs) - F.lit(2.0) * dot(qs, F.col("sc")) + dot(F.col("sc"), F.col("sc")), 6)
        * F.lit(1e6),
        0,
    ).cast("long")
    lut = cents.select("subspace", "code", sd2.alias("sd2"))
    want = [
        tuple(r)
        for r in codes.join(lut, ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("sd2") / F.lit(1e6), 6).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert got == want


def test_advise_shuffle_partitions_from_input_bytes(spark, tmp_path):
    """Shuffle advice = ceil(bytes * blowup / target), floored at the
    session parallelism, capped, monotone (never lowers a prior advice)."""
    from esper_tv_spark.plans.partitions import advise_shuffle_partitions, input_bytes

    p = tmp_path / "blob.bin"
    p.write_bytes(b"x" * 1_000_000)
    assert input_bytes(str(p)) == 1_000_000
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    floor_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny input -> advice floors at session parallelism
    assert advise_shuffle_partitions(spark, str(p), blowup=1.0) == floor_n
    # 1MB * blowup 2048 / 16MiB target -> ceil(122.07) = 123 partitions
    n = advise_shuffle_partitions(
        spark, str(p), blowup=2048.0, target_task_bytes=16 * 1024 * 1024
    )
    assert n == max(floor_n, 123)
    assert int(spark.conf.get(key)) == n
    # monotone: a later smaller advice must not shrink the session value
    n2 = advise_shuffle_partitions(spark, str(p), blowup=1.0)
    assert n2 == n and int(spark.conf.get(key)) == n
    # cap respected
    n3 = advise_shuffle_partitions(
        spark, str(p), blowup=1e9, target_task_bytes=1024, max_partitions=512
    )
    assert n3 == 512
    # with AQE coalescing disabled the advice must stand down entirely
    # (initialPartitionNum is only read under coalescing; raising it
    # without the coalescer would pin every later query to the max)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        spark.conf.unset(key)
        assert advise_shuffle_partitions(spark, str(p), blowup=1e9) == floor_n
        assert spark.conf.get(key, None) in (None, "none")
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # don't leak the ratcheted advice into later tests on the shared
        # session fixture (the round-4 ADVICE nit)
        try:
            spark.conf.unset(key)
        except Exception:
            pass


def test_advise_for_df_from_backing_files(spark, tmp_path):
    """Operator-side default sizing: advice derives from the DataFrame's
    own inputFiles; memory-backed frames are a no-op at the session floor."""
    from esper_tv_spark.plans.partitions import advise_for_df

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    floor_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        spark.conf.unset(key)
    except Exception:
        pass
    # memory-backed: no files, no conf mutation
    mem = spark.range(10)
    assert advise_for_df(mem, blowup=1e9) == floor_n
    assert spark.conf.get(key, None) in (None, "none")
    # file-backed: sized from the parquet bytes
    p = str(tmp_path / "t.parquet")
    spark.range(200_000).write.parquet(p)
    df = spark.read.parquet(p)
    n = advise_for_df(df, blowup=4096.0, target_task_bytes=16 * 1024 * 1024)
    assert n > floor_n
    assert int(spark.conf.get(key)) == n
    spark.conf.unset(key)


def test_broadcast_budget_follows_session_heap(spark):
    from esper_tv_spark.plans.partitions import _parse_jvm_size, broadcast_budget_bytes

    assert _parse_jvm_size("48g") == 48 * 1024**3
    assert _parse_jvm_size("512M") == 512 * 1024**2
    assert _parse_jvm_size("1024") == 1024
    budget = broadcast_budget_bytes(spark)
    heap = _parse_jvm_size(spark.conf.get("spark.driver.memory", "1g"))
    # local master: driver heap is the only JVM; budget is a fraction of it
    assert budget == int(heap * 0.35)
    # a ~2x-heap relation pair must NOT pass the two-sided cutoff rule
    est = heap  # one side alone fills the heap
    assert not (2 * est <= budget)


def test_q92_ivfpq_probe_is_pruned_joinless_scan(spark):
    """The combined IVF-PQ probe: cells scan partition-pruned on `cell`,
    LUT a literal (no join anywhere), ≤1 shuffle (the TakeOrdered)."""
    df = m.queries()["q92_ivfpq_ann"](spark, SF)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert count_shuffles(df) <= 1


def test_ivfpq_probe_matches_composed_ivf_plus_pq(spark, tmp_path):
    """IVF-PQ probe == (PQ store ADC scores — a one-cell index probed
    at n_probe=1) restricted to ids whose deterministic Lloyd cell is
    among the probed cells — the fused index must agree bit-for-bit with
    its two components composed by hand."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        cosine,
        ivfpq_build_index,
        ivfpq_probe_index,
        lit_vector,
        lloyd_assign,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb, idx, n_cells=16, m=8, k=16, dim=64)
    got = [tuple(r) for r in ivfpq_probe_index(spark, idx, q, 10, n_probe=3).collect()]

    # composed replay: probe cells from the inline assignment, ADC from a
    # plain PQ store (one coarse cell) over the same corpus
    cents16 = (
        emb.orderBy("vec_id").limit(16)
        .select(F.col("vec_id").alias("cell"),
                F.transform(F.col("embedding").cast("array<double>"),
                            lambda x: F.round(x, 6)).alias("cv"))
    )
    probe = [
        int(r["cell"])
        for r in cents16.select(
            "cell", F.round(cosine(F.col("cv"), lit_vector(q)), 6).alias("s")
        ).orderBy(F.col("s").desc(), F.col("cell").asc()).limit(3).collect()
    ]
    keep = {
        int(r["vec_id"])
        for r in lloyd_assign(emb, k=16).where(F.col("cluster").isin(probe)).collect()
    }
    store = str(tmp_path / "pq")
    ivfpq_build_index(emb, store, n_cells=1, m=8, k=16, dim=64)
    all_scores = ivfpq_probe_index(spark, store, q, 10_000_000, n_probe=1).collect()
    want = [
        (r["vec_id"], r["adist"]) for r in all_scores if int(r["vec_id"]) in keep
    ][:10]
    assert got == want


def test_q95_ivfsq_probe_is_partition_pruned_joinless(spark):
    """The IVF-SQ8 probe: literal-bounds affine scoring means scan ->
    project -> TakeOrdered — partition-pruned on `cell`, no joins."""
    df = m.queries()["q95_ivfsq_ann"](spark, SF)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert count_shuffles(df) <= 1


def test_q96_batch_knn_join_matches_single_probes(spark, tmp_path):
    """Per-query results of the batch kNN join are bit-identical to the
    single-query probe; the plan broadcasts the query side (no shuffle
    of the posting lists for the join) and prunes partitions."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_knn_join_index,
        ivf_probe_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf_batch")
    ivf_build_index(emb, idx, n_cells=16)
    qids = [0, 7, 13]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = ivf_knn_join_index(spark, idx, queries, 10, n_probe=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append((r["vec_id"], r["cosine_sim"]))
    for qid in qids:
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        want = [tuple(r) for r in ivf_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
        have = sorted(got[qid], key=lambda t: (-t[1], t[0]))
        assert have == want, qid

    plan = physical_plan(out)
    # two INDEPENDENT asserts (a combined `or` was tautological): the
    # cell join must be a broadcast hash join, and no other join shape
    # may appear anywhere — the centroid ranking is driver-side now, so
    # even the broadcast-NL cross is gone.
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


@pytest.mark.slow
def test_q97_batch_adc_join_matches_single_probes(spark, tmp_path):
    """Per-query results of the batched ADC kNN join equal the single
    ivfpq probe bit-for-bit across ALL THREE index flavors — raw, OPQ
    (the batch is rotated the same way), and by_residual (per-(qid,
    cell) LUTs keyed by the composite literal map)."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_knn_join_index,
        ivfpq_probe_index,
        opq_train,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    qids = [0, 7, 13]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    rot = opq_train(emb, m=8, k=16, dim=64, iters=2, sample_rows=256)
    for tag, kw in (
        ("raw", {}),
        ("opq", {"opq_rotation": rot}),
        ("res", {"by_residual": True}),
        ("opq_res", {"opq_rotation": rot, "by_residual": True}),
    ):
        idx = str(tmp_path / tag)
        ivfpq_build_index(emb, idx, n_cells=16, m=8, k=16, dim=64, **kw)
        out = ivfpq_knn_join_index(spark, idx, queries, 10, n_probe=3)
        got = {}
        for r in out.collect():
            got.setdefault(r["qid"], []).append((r["vec_id"], r["adist"]))
        for qid in qids:
            qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
            want = [tuple(r) for r in ivfpq_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
            assert sorted(got[qid], key=lambda t: (t[1], t[0])) == want, (tag, qid)
        if kw.get("by_residual"):
            # the broadcast-LUT-TABLE carrier (production shape past
            # lut_literal_max_probe probed cells) is bit-identical to
            # the inline literal map, and its plan is still one
            # broadcast hash join + pruned scan — no extra join node
            tbl = ivfpq_knn_join_index(
                spark, idx, queries, 10, n_probe=3, lut_literal_max_probe=0
            )
            got_t = {}
            for r in tbl.collect():
                got_t.setdefault(r["qid"], []).append((r["vec_id"], r["adist"]))
            assert got_t == got, tag
            plan = physical_plan(tbl)
            # an executed adaptive plan prints Final + Initial sections;
            # count joins in the FINAL plan only
            final = plan.split("== Initial Plan ==")[0]
            assert final.count("BroadcastHashJoin") == 1, tag
            assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert (
                "PartitionFilters" in plan
                and "cell" in plan.split("PartitionFilters")[1][:200]
            ), tag


def test_q99_batch_sq8_join_matches_single_probes(spark, tmp_path):
    """Per-query results of the batched IVF-SQ8 kNN join equal the
    single ivfsq probe bit-for-bit; the plan is one broadcast hash join
    on the pruned posting scan plus the top-k window — no other join
    shape, no cartesian."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        ivfsq_build_index,
        ivfsq_knn_join_index,
        ivfsq_probe_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    idx = str(tmp_path / "ivfsq_batch")
    ivfsq_build_index(emb, idx, n_cells=16, dim=64)
    qids = [0, 7, 13]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = ivfsq_knn_join_index(spark, idx, queries, 10, n_probe=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append((r["vec_id"], r["adist"]))
    for qid in qids:
        qv = [float(x) for x in emb.where(F.col("vec_id") == qid).first()["embedding"]]
        want = [tuple(r) for r in ivfsq_probe_index(spark, idx, qv, 10, n_probe=3).collect()]
        assert sorted(got[qid], key=lambda t: (t[1], t[0])) == want, qid

    plan = physical_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_batch_knn_join_rejects_bad_qids(spark, tmp_path):
    """The collected serving batch is validated up front: non-integral
    qids and duplicate qids raise a clear ValueError instead of
    truncating silently or failing deep inside map_from_arrays."""
    import pytest
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import (
        ivf_build_index,
        ivf_knn_join_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf_badqid")
    ivf_build_index(emb, idx, n_cells=16)
    base = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    frac = base.withColumn("qid", F.col("qid") + F.lit(0.5))
    with pytest.raises(ValueError, match="not an integral"):
        ivf_knn_join_index(spark, idx, frac, 5)
    dup = base.withColumn("qid", F.lit(7))
    with pytest.raises(ValueError, match="duplicate"):
        ivf_knn_join_index(spark, idx, dup, 5)
    # qid magnitude: the residual join's composite LUT key is
    # qid * 2^32 + cell — a qid past int32 would wrap the int64 key, so
    # the batch boundary rejects it for EVERY join flavor
    big = base.withColumn("qid", F.col("qid") + F.lit(1 << 31))
    with pytest.raises(ValueError, match="out of range"):
        ivf_knn_join_index(spark, idx, big, 5)


# The driver rankers every probe and kNN join uses, fed the SAME rows as
# their expression references: a flat index, a two-level index (ranked
# with the per-query `allowed` group sets) and hand-made tied centroids.
_CENTS = "cell long, cv array<double>"
_TIED = [  # equal rounded cosines: the smaller cell id must rank first
    {"cell": 5, "cv": [1.0, 0.0, 0.0]},
    {"cell": 2, "cv": [2.0, 0.0, 0.0]},
    {"cell": 9, "cv": [0.0, 1.0, 0.0]},
    {"cell": 0, "cv": [0.0, 3.0, 0.0]},
    {"cell": 7, "cv": [0.6, 0.8, 0.0]},
    {"cell": 3, "cv": [1.0, 0.0, 1e-9]},
]


@pytest.fixture(scope="module")
def pq_indexes(spark, tmp_path_factory):
    """A flat, a two-level and a one-cell (the plain PQ store) ivfpq
    index over the sf0.001 embeddings."""
    from esper_tv_spark.operators.similarity import ivfpq_build_index

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    root = tmp_path_factory.mktemp("rankers")
    out = {}
    for layout, kw in (
        ("flat", {"n_cells": 16}),
        ("two_level", {"n_cells": 16, "n_groups": 4}),
        ("one_cell", {"n_cells": 1}),
    ):
        out[layout] = str(root / layout)
        ivfpq_build_index(emb, out[layout], m=8, k=16, dim=64, **kw)
    return emb, out


def _assert_rankers_agree(rows_df, pq_indexes, qids):
    """Cell ranking BLAS == expression on the same centroid rows (tied,
    flat and two-level), and ADC LUTs BLAS == expression on the same
    codebook rows, for the raw queries and every (query, probed cell)
    residual."""
    from esper_tv_spark.operators.similarity import (
        _adc_lut_values,
        _adc_lut_values_blas,
        _codebook_rows,
        _probe_centroids,
        _rank_probe_cells,
        _rank_probe_cells_blas,
    )

    emb, idx = pq_indexes
    by_id = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id").isin(qids)).collect()
    }
    qvecs = [by_id[q] for q in qids]
    tied_q = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0]][: len(qids)]
    got = _rank_probe_cells_blas(_TIED, qids, tied_q, 3, 6)
    assert got == _rank_probe_cells(rows_df(_TIED, _CENTS), qids, tied_q, 3, 6), "tied"
    assert [c for q, c in got[0] if q == qids[0]] == [2, 3, 5]
    for layout in ("flat", "two_level"):
        cents, allowed = _probe_centroids(idx[layout], qids, qvecs, 2, 6)
        assert (allowed is not None) == (layout == "two_level")
        schema = _CENTS + (", grp long" if allowed else "")
        got = _rank_probe_cells_blas(cents, qids, qvecs, 3, 6, allowed=allowed)
        want = _rank_probe_cells(rows_df(cents, schema), qids, qvecs, 3, 6, allowed=allowed)
        assert got == want, layout
        pairs, _cells, cv_by_cell = got
        cb = _codebook_rows(idx[layout])
        cb_df = rows_df(cb, "subspace int, rk int, sc array<double>")
        residuals = [
            [a - b for a, b in zip(qvecs[qids.index(q)], cv_by_cell[c])] for q, c in pairs
        ]
        for vecs in (qvecs, residuals):
            assert _adc_lut_values_blas(cb, vecs, 6) == _adc_lut_values(cb_df, vecs, 6), layout


def test_batch_knn_join_fast_matches_slow(spark, rows_df, pq_indexes):
    """The kNN joins' driver rankers (`_rank_probe_cells_blas`,
    `_adc_lut_values_blas`) equal their expression references on a
    3-query batch: flat, two-level (per-query group sets) and tied
    centroids, including every residual LUT."""
    _assert_rankers_agree(rows_df, pq_indexes, [0, 7, 13])


def test_batch_knn_join_null_cosine_ranks_last(spark):
    """A NULL rounded centroid cosine (a null component in a stored
    centroid vector propagates through dot -> NULL, no ANSI
    divide-by-zero) must not crash the driver-side cell ranking (r8
    regressed from the null-tolerant Spark window ordering to a bare
    -key sort, which TypeErrors on None) — the NULL cell ranks LAST,
    exactly where the single probe's `desc` (nulls last) puts it."""
    from esper_tv_spark.operators.similarity import _rank_probe_cells

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [None, 1.0]), (2, [0.6, 0.8])],
        "cell long, cv array<double>",
    )
    pairs, cell_list, cv = _rank_probe_cells(cents, [42], [[1.0, 0.0]], 3, 6)
    assert [c for _q, c in pairs] == [0, 2, 1]  # NULL-sim cell 1 last
    assert cell_list == [0, 1, 2]
    assert cv[1] == [None, 1.0]  # corrupt component preserved, not a crash


def test_single_probe_fast_matches_slow(spark, rows_df, pq_indexes):
    """The single probes' driver rankers (`_rank_probe_cells_blas`,
    `_adc_lut_values_blas`) equal their expression references for one
    query on the same rows — flat, two-level and tied centroids — and
    the one-cell index's stored codes, each rank mapped back to its
    code through `codebooks/`, equal `pq_assign_deterministic`'s rows
    with the same id type (q81's census reads them)."""
    from esper_tv_spark.operators.similarity import pq_assign_deterministic

    _assert_rankers_agree(rows_df, pq_indexes, [7])

    emb, idx = pq_indexes
    cells = spark.read.parquet(os.path.join(idx["one_cell"], "cells"))
    book = spark.read.parquet(os.path.join(idx["one_cell"], "codebooks"))
    stored = (
        cells.select(F.col("id").alias("vec_id"), F.posexplode("codes").alias("subspace", "rk"))
        .join(book.select("subspace", "rk", "code"), ["subspace", "rk"])
    )
    ref = pq_assign_deterministic(emb, m=8, k=16, dim=64)

    def rows(df):
        return sorted(tuple(r) for r in df.select("vec_id", "subspace", "code").collect())

    want = rows(ref)
    assert rows(stored) == want
    assert len(want) == 8 * emb.count()
    assert stored.schema["vec_id"].dataType == ref.schema["vec_id"].dataType
