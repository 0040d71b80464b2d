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
