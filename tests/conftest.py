import itertools
import os

import pytest

from esper_tv_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    # SPARK_GRAFT_TEST_CPUS overrides the test session's core count
    # (default 4 — shuffle_partitions stays 4 either way, so plans and
    # results are identical; only task parallelism changes)
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    s = get_spark("tests", cpus=cpus, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """`count_jobs(fn)` -> (fn(), number of Spark jobs fn launched),
    counted by job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def rows_df(spark):
    """Driver-read index rows (a list of dicts, as `sidecar_rows`
    returns them) as a DataFrame with the given DDL schema — the input
    the expression references (`_rank_probe_cells`, `_adc_lut_values`)
    take, so a test can hand both rankers the same rows."""

    def make(rows, schema):
        names = [f.split()[0] for f in schema.split(",")]
        return spark.createDataFrame([tuple(r[n] for n in names) for r in rows], schema)

    return make


@pytest.fixture
def semantic_dedup_reference():
    """`ref(df, threshold, k=8, centroids=None)` -> SemDeDup's expression
    reference as sorted (vec_id, cluster, is_dup) tuples: `lloyd_assign`'s
    clusters, then an exact within-cluster scan of every pair's `dot`
    cosine rounded with F.round — no Arrow pass, no GEMM."""
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.similarity import dot, lloyd_assign

    def ref(df, threshold, k=8, centroids=None):
        asg = lloyd_assign(df, centroids=centroids, k=k)
        v = F.col("embedding").cast("array<double>")
        vn = df.select("vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("n")).join(asg, "vec_id")
        a = vn.select(*(F.col(c).alias(c + "_a") for c in vn.columns))
        pairs = vn.join(
            a, (F.col("cluster") == F.col("cluster_a")) & (F.col("vec_id_a") < F.col("vec_id"))
        )
        sim = F.round(dot(F.col("v"), F.col("v_a")) / (F.col("n") * F.col("n_a")), 6)
        dups = pairs.where(sim >= threshold).select("vec_id").distinct().withColumn("d", F.lit(True))
        out = asg.join(dups, "vec_id", "left").select(
            "vec_id", "cluster", F.coalesce("d", F.lit(False))
        )
        return sorted(tuple(r) for r in out.collect())

    return ref
