"""The engine's bookkeeping tables — the rollup, streaming-sink and
derived-table ledgers and the ANN tombstones — are read and appended on
the driver (sources.sidecar): `ann_delete` and a rollup read's plan
launch no Spark job, an unreadable ledger raises instead of passing for
an empty one, a vacuum interrupted between its ledger append and its
delete loses nothing, and ledgers a Spark write committed read back
beside driver-appended rows."""

import os
import shutil

import pyarrow as pa
import pytest
from pyspark.errors import StreamingQueryException

from esper_tv_spark.frontend.dsl import run_query
from esper_tv_spark.sources import sidecar
from esper_tv_spark.sources.catalog import read_derived_table, write_derived_table
from esper_tv_spark.streaming import file_stream, write_with_ledger
from esper_tv_spark.streaming.ann import ann_delete
from esper_tv_spark.streaming.rollup import incremental_rollup, read_rollup, vacuum_rollup

SCHEMA = "k string, v long"
METRICS = {"n": ("count", None), "total": ("sum", "v"), "vmax": ("max", "v")}
BATCHES = [[("a", 1), ("b", 2)], [("a", 3), ("c", 4)], [("b", 5), ("a", 6)]]


def _land(spark, src, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _stream(spark, src):
    schema = spark.createDataFrame([], SCHEMA).schema
    return file_stream(spark, src, schema, max_files_per_trigger=1)


def _roll(spark, src, state, ckpt):
    incremental_rollup(_stream(spark, src), ["k"], METRICS, state, ckpt).start().awaitTermination(180)


def _want(batches):
    out = {}
    for k, v in (r for b in batches for r in b):
        n, total, vmax = out.get(k, (0, 0, v))
        out[k] = (n + 1, total + v, max(vmax, v))
    return out


def _got(spark, state):
    return {r["k"]: (r["n"], r["total"], r["vmax"]) for r in read_rollup(spark, state).collect()}


def _epochs(ledger):
    return sorted(r["epoch_id"] for r in sidecar.committed_rows(ledger, ["epoch_id"]))


def _spark_commit(spark, ledger, row, ddl):
    """A ledger row appended the way a Spark write commits it."""
    spark.createDataFrame([row], ddl).coalesce(1).write.mode("append").parquet(ledger)


def _unreadable(ledger):
    os.makedirs(ledger)
    with open(os.path.join(ledger, "part-x.parquet"), "wb") as f:
        f.write(b"not a parquet file")


def test_ann_delete_runs_no_spark_job(spark, tmp_path, count_jobs):
    idx = str(tmp_path / "idx")
    for table in ("cells", "centroids"):  # what makes `idx` an ivf index
        os.makedirs(os.path.join(idx, table))
    n, jobs = count_jobs(lambda: ann_delete(spark, idx, [3, 1, 3]))
    assert (n, jobs) == (3, 0)
    assert count_jobs(lambda: ann_delete(spark, idx, [7]))[1] == 0
    assert sidecar.tombstone_ids(idx) == [1, 3, 7]
    # the driver-written parts read back through Spark too
    tomb = os.path.join(idx, "tombstones")
    assert sorted(r["id"] for r in spark.read.parquet(tomb).collect()) == [1, 3, 3, 7]


def test_rollup_read_plans_without_jobs(spark, tmp_path, count_jobs):
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    for b in BATCHES[:2]:
        _land(spark, src, b)
    _roll(spark, src, state, str(tmp_path / "ckpt"))
    spec = {
        "table": "rollup",
        "agg": {"events": {"fn": "sum", "col": "n"}, "total": {"fn": "sum", "col": "total"}},
    }
    df, built = count_jobs(lambda: run_query({"rollup": read_rollup(spark, state)}, spec))
    assert built == 0
    row = df.collect()[0]
    assert (row["events"], row["total"]) == (4, 10)


def test_unreadable_ledgers_raise(spark, tmp_path):
    """A ledger that exists but cannot be read fails the write: treating
    it as empty would redo a committed job and commit it twice."""
    df = spark.createDataFrame([(1, 0.5)], "id long, p double")
    base = str(tmp_path / "derived")
    _unreadable(os.path.join(base, "_ledger"))
    with pytest.raises(pa.ArrowInvalid):
        write_derived_table(df, base, job="j1")
    assert not os.path.exists(os.path.join(base, "data"))

    src, out, ledger = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ledger")
    _land(spark, src, BATCHES[0])
    _unreadable(ledger)
    q = write_with_ledger(_stream(spark, src), out, ledger, str(tmp_path / "ckpt")).start()
    with pytest.raises(StreamingQueryException, match="part-x.parquet"):
        q.awaitTermination(120)
    assert not os.path.exists(out)

    state = str(tmp_path / "state")
    _unreadable(os.path.join(state, "_ledger"))
    with pytest.raises(pa.ArrowInvalid):
        read_rollup(spark, state)


def test_vacuum_interrupted_after_its_ledger_append(spark, tmp_path, monkeypatch):
    """A crash between vacuum's append of the kept epochs and its delete
    of the old ledger files leaves the latest snapshot readable, and the
    next micro-batch merges on top of it."""
    src, state, ckpt = str(tmp_path / "src"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    ledger = os.path.join(state, "_ledger")
    for b in BATCHES[:2]:
        _land(spark, src, b)
    _roll(spark, src, state, ckpt)
    assert _epochs(ledger) == [0, 1]

    append = sidecar.append_rows

    def crash(path, table):
        append(path, table)
        raise RuntimeError("crashed before deleting the old ledger files")

    monkeypatch.setattr(sidecar, "append_rows", crash)
    with pytest.raises(RuntimeError, match="crashed"):
        vacuum_rollup(spark, state, keep=1)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(state, "v=0"))
    assert _epochs(ledger) == [0, 1, 1]
    assert _got(spark, state) == _want(BATCHES[:2])

    _land(spark, src, BATCHES[2])
    _roll(spark, src, state, ckpt)
    assert _got(spark, state) == _want(BATCHES)
    # the next vacuum finishes the job: one ledger file, the kept epoch
    assert vacuum_rollup(spark, state, keep=1) == [0, 1]
    assert _epochs(ledger) == [2] and len(sidecar.committed_files(ledger)) == 1
    assert _got(spark, state) == _want(BATCHES)


def test_spark_written_ledgers_keep_their_history(spark, tmp_path):
    """Ledgers committed by Spark writes (the earlier format) read back
    beside driver-appended rows, for all three ledgers."""
    # rollup: epoch 0's ledger row rewritten as a Spark commit
    src, state, ckpt = str(tmp_path / "src"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    ledger = os.path.join(state, "_ledger")
    _land(spark, src, BATCHES[0])
    _roll(spark, src, state, ckpt)
    shutil.rmtree(ledger)
    _spark_commit(spark, ledger, (0,), "epoch_id long")
    _land(spark, src, BATCHES[1])
    _roll(spark, src, state, ckpt)
    assert _epochs(ledger) == [0, 1] and len(sidecar.committed_files(ledger)) == 2
    assert _got(spark, state) == _want(BATCHES[:2])

    # streaming sink: a Spark-committed epoch 0 is skipped, epoch 1 lands
    src, out, ledger = str(tmp_path / "s_src"), str(tmp_path / "s_out"), str(tmp_path / "s_ledger")
    for b in BATCHES[:2]:
        _land(spark, src, b)
    _spark_commit(spark, ledger, ("stream", 0), "job string, epoch_id long")
    write_with_ledger(_stream(spark, src), out, ledger, str(tmp_path / "s_ckpt")).start().awaitTermination(120)
    assert _epochs(ledger) == [0, 1]
    assert os.listdir(out) == ["epoch=1"]

    # derived table: a Spark-committed job is skipped and read back
    base = str(tmp_path / "derived")
    spark.createDataFrame([(1, 0.5)], "id long, p double").write.parquet(
        os.path.join(base, "data", "job=j1")
    )
    _spark_commit(spark, os.path.join(base, "_ledger"), ("j1",), "job string")
    j2 = spark.createDataFrame([(2, 0.25)], "id long, p double")
    assert write_derived_table(j2, base, job="j1") is False
    assert write_derived_table(j2, base, job="j2") is True
    assert sorted(r["id"] for r in read_derived_table(spark, base).collect()) == [1, 2]
