"""Driver-contract sanity: queries()/oracle_sql() consistency and a fast
subset run end-to-end at sf0.001 (the full oracle gate is tools/check.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as m

SF = "/root/testdata/sf0.001"

FAST = [
    "q01_pricing_summary",
    "q08_weighted_screen_time",
    "q18_interval_coalesce",
    "q25_doc_quality",
    "q31_knn",
]


# Round 3: the last two rows-only queries gained oracles (q46 decodes real
# PPM payloads with closed-form pixels; q48 runs a closed-form Lloyd
# assignment step) — every contract query is now hash-checked.
NON_SQL: set[str] = set()


def test_contract_shape():
    qs, oracles = m.queries(), m.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)
    # every declared query has an oracle unless documented non-SQL
    assert set(qs) - set(oracles) == NON_SQL


def test_entry_runs(spark):
    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"l_returnflag", "expected_sum", "variance_sum"}


@pytest.mark.parametrize("name", FAST)
def test_query_subset_runs(spark, name):
    df = m.queries()[name](spark, SF)
    assert len(df.collect()) > 0


@pytest.mark.slow
def test_oracles_are_valid_duckdb():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name, sql in m.oracle_sql().items():
        con.execute(f"SELECT * FROM ({sql}) LIMIT 1")  # parses + binds


def test_ivfpq_index_dir_keeps_sibling_configs(spark, tmp_path, monkeypatch):
    """q88's one-cell IVF-PQ store and q92/q97's 16-cell index share one
    data generation: building either keeps the other, and a cached
    config is served as it is (no rebuild, so its sentinel's mtime
    stays put)."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    one = m._ivfpq_index_dir(spark, SF, n_cells=1)
    sentinel = os.path.join(one, "codebooks", "_SUCCESS")
    built = os.stat(sentinel).st_mtime_ns
    sixteen = m._ivfpq_index_dir(spark, SF, n_cells=16)
    assert sixteen != one
    assert m._ivfpq_index_dir(spark, SF, n_cells=1) == one
    assert os.stat(sentinel).st_mtime_ns == built
    for idx in (one, sixteen):
        assert os.path.exists(os.path.join(idx, "codebooks", "_SUCCESS")), idx


def test_ivfpq_index_dir_sweeps_old_pq_store_dirs(spark, tmp_path, monkeypatch):
    """A cache dir under the retired PQ-store prefix is gone after one
    call, whichever data generation it was built for."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    old = tmp_path / "esper_tv_pq_store_sf0.001_0123456789abcdef_m8k16"
    (old / "codes").mkdir(parents=True)
    (old / "codes" / "part-0.parquet").write_bytes(b"x")
    idx = m._ivfpq_index_dir(spark, SF, n_cells=1)
    assert not old.exists()
    assert os.path.exists(os.path.join(idx, "codebooks", "_SUCCESS"))
