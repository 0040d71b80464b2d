"""Streaming MinHash-LSH dedup: the incremental candidate set over a
two-batch stream must equal the batch pipeline's candidate set."""

import os

from pyspark.sql import functions as F

from esper_tv_spark.operators.dedup import lsh_candidate_pairs
from esper_tv_spark.streaming import file_stream
from esper_tv_spark.streaming.dedup import (
    streaming_lsh_candidates,
    streaming_minhash_buckets,
)

SF = "/root/testdata/sf0.001"


def test_stream_candidates_equal_batch(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select("doc_id", "text")
    # two time-ordered files -> two micro-batches
    src = str(tmp_path / "docs_src")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src, mode="append")

    stream = file_stream(spark, src, docs.schema, max_files_per_trigger=1)
    out = streaming_lsh_candidates(stream, max_bucket_size=None)
    q = (
        out.writeStream.format("memory")
        .queryName("lshc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.table("lshc").select("id_a", "id_b").collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(docs).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_buckets_match_batch_projection(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select("doc_id", "text")
    from esper_tv_spark.operators.dedup import lsh_buckets, minhash_signature

    got = sorted(
        tuple(r) for r in streaming_minhash_buckets(docs).collect()
    )
    want = sorted(
        tuple(r) for r in lsh_buckets(minhash_signature(docs), 4, 2).collect()
    )
    assert got == want


def test_hot_bucket_cap_freezes_state(spark, tmp_path):
    # 10 identical docs share every bucket; cap=4 -> each bucket emits
    # pairs only until frozen, so far fewer than the uncapped 45 per band
    rows = [(i, "same exact words repeated here again and again") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "hot_src")
    docs.coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, docs.schema)
    out = streaming_lsh_candidates(stream, max_bucket_size=4)
    q = (
        out.writeStream.format("memory")
        .queryName("hotc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    per_band = (
        spark.table("hotc").groupBy("band").count().collect()
    )
    assert per_band and all(r["count"] == 6 for r in per_band)  # C(4,2) = 6, then frozen


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """First arrival per key is emitted, in-watermark repeats are dropped;
    output equals batch dropDuplicates on the key."""
    from datetime import datetime, timedelta

    from esper_tv_spark.streaming.dedup import streaming_exact_dedup

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (h, i, t0 + timedelta(seconds=i))
        for i, h in enumerate(["a", "b", "a", "c", "b", "a", "d"])
    ]
    docs = spark.createDataFrame(rows, "content_hash string, seq long, ts timestamp")
    src = str(tmp_path / "dedup_src")
    docs.coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, docs.schema)
    out = streaming_exact_dedup(stream, ["content_hash"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("exd")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["content_hash"] for r in spark.table("exd").collect()}
    assert got == {"a", "b", "c", "d"}
    assert spark.table("exd").count() == 4


def test_streaming_semantic_dedup_equals_batch(spark, tmp_path):
    """Streaming SemDeDup against frozen centroids == the batch operator
    when ingest is id-ordered (two id-ranged micro-batches)."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup
    from esper_tv_spark.streaming.dedup import streaming_semantic_dedup

    rng = np.random.default_rng(47)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    # planted near-dups: late ids close to early vectors
    rows.append((200, [v * 1.01 + 1e-4 for v in rows[5][1]]))
    rows.append((201, [v * 0.99 - 1e-4 for v in rows[35][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent_rows = [(i, rows[i][1]) for i in range(6)]
    cdf = spark.createDataFrame(cent_rows, "cluster long, cvec array<double>")

    want = sorted(
        tuple(r)
        for r in semantic_dedup(df, threshold=0.95, centroids=cdf).collect()
    )

    src = str(tmp_path / "vec_src")
    df.where("vec_id < 30").coalesce(1).write.parquet(src)
    df.where("vec_id >= 30").coalesce(1).write.parquet(src, mode="append")
    stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
    out = streaming_semantic_dedup(stream, cent_rows, threshold=0.95)
    q = (
        out.writeStream.format("memory")
        .queryName("semdd")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(tuple(r) for r in spark.table("semdd").collect())
    assert got == want and any(r[2] for r in got)


def test_streaming_semantic_dedup_multichunk_group(spark, tmp_path):
    """A group larger than the Arrow batch size arrives as several pandas
    chunks; the probe must sort ONCE across the whole micro-batch group or
    a larger-id near-dup in an early chunk is probed before its smaller-id
    mate in a later chunk (inverting the batch smaller-id-wins rule)."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup
    from esper_tv_spark.streaming.dedup import streaming_semantic_dedup

    rng = np.random.default_rng(11)
    base = [float(x) for x in rng.normal(size=8)]
    # ONE cluster, 30 rows: ids 0..27 random, 28/29 near-dups of 0 — with a
    # tiny Arrow batch the group splits into many chunks and arrival order
    # within the batch is not id order
    rows = [(0, base)]
    rows += [(i, [float(x) for x in rng.normal(size=8)]) for i in range(1, 28)]
    rows.append((28, [v * 1.01 + 1e-4 for v in base]))
    rows.append((29, [v * 0.99 - 1e-4 for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent_rows = [(0, base)]
    cdf = spark.createDataFrame(cent_rows, "cluster long, cvec array<double>")

    want = sorted(
        tuple(r)
        for r in semantic_dedup(df, threshold=0.95, centroids=cdf).collect()
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        src = str(tmp_path / "vec_src")
        # write id-DESCENDING so chunk order disagrees with id order
        df.orderBy("vec_id", ascending=False).coalesce(1).write.parquet(src)
        stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
        out = streaming_semantic_dedup(stream, cent_rows, threshold=0.95)
        q = (
            out.writeStream.format("memory")
            .queryName("semdd_mc")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = sorted(tuple(r) for r in spark.table("semdd_mc").collect())
    assert got == want and sum(r[2] for r in got) == 2


def test_streaming_semantic_dedup_multiprobe_equals_batch(spark, tmp_path):
    """Multi-probe streaming SemDeDup (cluster_probes=2), collapsed with
    collapse_probe_verdicts, == batch semantic_dedup(cluster_probes=2)."""
    import numpy as np

    from esper_tv_spark.operators.dedup import semantic_dedup
    from esper_tv_spark.streaming.dedup import (
        collapse_probe_verdicts,
        streaming_semantic_dedup,
    )

    rng = np.random.default_rng(53)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    # planted near-dups, including one engineered to straddle clusters:
    rows.append((200, [v * 1.01 + 1e-4 for v in rows[5][1]]))
    c0, c1 = rows[0][1], rows[1][1]
    mid_a = [0.55 * a + 0.45 * b for a, b in zip(c0, c1)]
    mid_b = [0.45 * a + 0.55 * b for a, b in zip(c0, c1)]
    rows.append((210, mid_a))
    rows.append((211, mid_b))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent_rows = [(i, rows[i][1]) for i in range(6)]
    cdf = spark.createDataFrame(cent_rows, "cluster long, cvec array<double>")

    want = sorted(
        tuple(r)
        for r in semantic_dedup(
            df, threshold=0.9, centroids=cdf, cluster_probes=2
        ).collect()
    )

    src = str(tmp_path / "vec_src_mp")
    df.where("vec_id < 30").coalesce(1).write.parquet(src)
    df.where("vec_id >= 30").coalesce(1).write.parquet(src, mode="append")
    stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
    out = streaming_semantic_dedup(stream, cent_rows, threshold=0.9, cluster_probes=2)
    q = (
        out.writeStream.format("memory")
        .queryName("semdd_mp")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    sink = spark.table("semdd_mp")
    # one row per membership: 2 per vector (6 centroids >= 2 probes)
    assert sink.count() == 2 * len(rows)
    got = sorted(tuple(r) for r in collapse_probe_verdicts(sink).collect())
    assert got == want and any(r[2] for r in got)


def test_streaming_semantic_dedup_multiprobe_recall_step(spark, tmp_path):
    """The boundary-straddling planted pair: invisible to single-probe
    blocking (different primary clusters), caught at cluster_probes=2 —
    the streaming twin of the batch recall measurement."""
    from esper_tv_spark.streaming.dedup import (
        collapse_probe_verdicts,
        streaming_semantic_dedup,
    )

    c0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    # cosine(v_a, v_b) = 1.995/2.005 ~ 0.995 >= 0.95, but argmin cluster
    # of v_a is c0 and of v_b is c1
    v_a = [1.05, 0.95, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    v_b = [0.95, 1.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    rows = [(10, v_a), (11, v_b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent_rows = [(0, c0), (1, c1)]

    def run(probes, name):
        src = str(tmp_path / f"vsrc_{name}")
        df.coalesce(1).write.parquet(src)
        stream = file_stream(spark, src, df.schema, max_files_per_trigger=1)
        out = streaming_semantic_dedup(
            stream, cent_rows, threshold=0.95, cluster_probes=probes
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name)

    single = run(1, "semdd_p1")
    assert {r["is_dup"] for r in single.collect()} == {False}  # pair missed

    multi = collapse_probe_verdicts(run(2, "semdd_p2"))
    got = {r["vec_id"]: (r["cluster"], r["is_dup"]) for r in multi.collect()}
    # primary clusters still differ; the LATER id is now the duplicate
    assert got[10] == (0, False)
    assert got[11] == (1, True)
