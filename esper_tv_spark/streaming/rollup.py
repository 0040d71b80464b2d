"""Incrementally-maintained rollup: a materialized groupBy kept current by
a stream, one snapshot version per micro-batch.

The batch way to keep "counts per key over everything ingested so far" is
to rescan the corpus per refresh — a full 100 TB pass for each update. The
streaming way holds the whole aggregate in operator state (complete output
mode), which pins every group in executor memory forever. This sits in
between, the Delta/Iceberg MERGE idiom built from parquet primitives:

- each micro-batch computes its PARTIAL aggregate (map-side combinable,
  sized by the batch, not the corpus),
- merges it with the previous snapshot (union + re-aggregate: one shuffle
  over |keys| + |batch keys| rows),
- writes snapshot `v=<epoch>` and commits it to a ledger; the latest
  COMMITTED version is the readable view.

Replayed epochs (crash/restart) overwrite their own snapshot directory and
re-commit — idempotent, same discipline as ingest.write_with_ledger. Old
versions are retained for time travel; `vacuum_rollup` enforces a
retention window. Aggregates must be mergeable: count/sum/min/max
(avg = sum+count).

The bookkeeping runs on the driver (sources.sidecar): the ledger is read
and appended with pyarrow, and a snapshot's schema is declared from one
parquet footer, so the only Spark jobs a micro-batch runs are its
aggregate and snapshot write, and `read_rollup` builds its DataFrame
without any.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esper_tv_spark.sources import sidecar

_MERGE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _committed(ledger_dir: str) -> list[int]:
    """Committed epochs from the ledger; [] ONLY for a ledger with no
    committed file yet. Any other read failure (FS hiccup, partial file)
    propagates and fails the batch — swallowing it would merge against
    nothing and silently reset the rollup to this batch's partial."""
    return [r["epoch_id"] for r in sidecar.committed_rows(ledger_dir, ["epoch_id"])]


def _commit(ledger_dir: str, epochs: "list[int]") -> None:
    import pyarrow as pa

    sidecar.append_rows(ledger_dir, pa.table({"epoch_id": pa.array(epochs, pa.int64())}))


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest committed snapshot (FileNotFoundError if none yet),
    its schema declared from one footer: building the read runs no
    Spark job."""
    versions = _committed(os.path.join(state_dir, "_ledger"))
    if not versions:
        raise FileNotFoundError(f"no committed rollup snapshot under {state_dir}")
    return sidecar.declared_parquet(spark, os.path.join(state_dir, f"v={max(versions)}"))


def incremental_rollup(
    stream: DataFrame,
    group_cols: list[str],
    metrics: dict[str, tuple[str, str]],
    state_dir: str,
    checkpoint_dir: str,
):
    """writeStream query maintaining groupBy(group_cols) with `metrics` =
    {out_name: (agg, col)}, agg in count/sum/min/max ('count' ignores col).

    Returns the DataStreamWriter (caller .start()s it); read the view back
    with read_rollup."""
    for name, (agg, _) in metrics.items():
        if agg not in _MERGE:
            raise ValueError(f"{name}: agg {agg!r} is not mergeable (use {sorted(_MERGE)})")

    partial_aggs = [
        (
            F.count(F.lit(1)) if agg == "count" else getattr(F, agg)(col)
        ).alias(name)
        for name, (agg, col) in metrics.items()
    ]
    merge_aggs = [_MERGE[agg](name).alias(name) for name, (agg, _) in metrics.items()]
    ledger_dir = os.path.join(state_dir, "_ledger")

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        committed = _committed(ledger_dir)
        if epoch_id in committed:
            return
        partial = batch_df.groupBy(*group_cols).agg(*partial_aggs)
        if committed:
            prev = sidecar.declared_parquet(
                batch_df.sparkSession, os.path.join(state_dir, f"v={max(committed)}")
            )
            partial = prev.unionByName(partial).groupBy(*group_cols).agg(*merge_aggs)
        partial.write.mode("overwrite").parquet(os.path.join(state_dir, f"v={epoch_id}"))
        _commit(ledger_dir, [epoch_id])

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def vacuum_rollup(spark: SparkSession, state_dir: str, keep: int = 3) -> list[int]:
    """Retention for the versioned snapshots: keep the latest `keep`
    COMMITTED versions (time travel window), delete older snapshot
    directories AND their ledger rows.  The order makes every crash
    point safe, because readers take the max (read_rollup) or the set
    (handle_batch) of the ledger's epochs:

    1. the dropped snapshot directories go first — the ledger still
       lists them, but the max version is never dropped;
    2. the kept epochs are appended to the ledger as one new file;
    3. only then are the ledger files that held the old rows deleted.

    A crash between 2 and 3 leaves the kept epochs listed twice and the
    dropped ones still listed — harmless, and the next vacuum drops them
    again; the ledger never loses an epoch whose snapshot exists.  Its
    files are listed BEFORE its rows are read, so a file appended in
    between is kept rather than deleted unread.  `spark` is unused and
    kept for the rollup API's uniform signature.  Returns the versions
    dropped."""
    import shutil

    ledger_dir = os.path.join(state_dir, "_ledger")
    old = sidecar.committed_files(ledger_dir)
    versions = sorted(set(_committed(ledger_dir)))
    drop = versions[:-keep] if keep > 0 else versions
    if not drop:
        return []
    for v in drop:
        shutil.rmtree(os.path.join(state_dir, f"v={v}"), ignore_errors=True)
    _commit(ledger_dir, versions[len(drop):])
    for f in old:
        os.remove(f)
    return drop
