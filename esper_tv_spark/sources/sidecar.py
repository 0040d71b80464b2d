"""Driver-side reads and writes of the engine's own small tables.

The engine keeps a few tables beside the data it serves: index metadata
(centroids, groups, codebooks, rotation, sq bounds), the tombstone ids
of `streaming.ann.ann_delete`, and the commit ledgers of the streaming
sinks, the rollup and the derived-table catalog — plus the schemas of
the parquet snapshots it re-reads.  They are kBs, and every caller
acts on them in driver Python anyway, so routing them through Spark
(`spark.read.parquet(...).collect()`, `createDataFrame(...).write`, a
schema-inference scan) would pay a distributed-job round trip per
table per operation — listing, task launch, Arrow ship-back — for a
few rows.  Fixed per-job overhead, not data volume, is the cost of a
small interactive operation, so these reads and writes run on the
driver with pyarrow and launch no Spark job.

Both sides agree on what is committed: pyarrow's discovery and Spark's
listing skip `_`- and `.`-prefixed paths, so a Spark write still in its
`_temporary/` dir and an `append_rows` file not yet renamed into place
are invisible to every reader.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame


def sidecar_rows(
    path: str,
    columns: "list[str] | None" = None,
    filter_col: "str | None" = None,
    filter_vals=None,
) -> "list[dict]":
    """Driver-LOCAL pyarrow read of a small index sidecar table
    (centroids / groups / codebooks / rotation / sq bounds) — the one
    reader every probe and kNN join uses for its index metadata, so a
    serving probe launches no cluster job to read its own metadata.
    Values are identical to a Spark read: parquet doubles round-trip
    binary-exact through either reader, and callers re-sort by key.
    Hive-partitioned sidecars (two-level centroids under grp=<g>/)
    prune with a partition filter — the same dirs a Spark read would
    keep."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet", partitioning="hive")
    flt = None
    if filter_col is not None:
        flt = ds.field(filter_col).isin([int(v) for v in filter_vals])
    return dataset.to_table(columns=columns, filter=flt).to_pylist()


def committed_files(path: str) -> "list[str]":
    """The committed parquet files of an append-only engine table (a
    ledger, the tombstone ids): [] for a table that does not exist yet,
    or whose dir holds no committed file — a first append caught
    mid-write (Spark's `_temporary/` attempt, or `append_rows`' hidden
    file before its rename)."""
    import pyarrow.dataset as ds

    if not os.path.exists(path):
        return []
    return ds.dataset(path, format="parquet").files


def committed_rows(path: str, columns: "list[str]") -> "list[dict]":
    """The rows of `committed_files(path)`, read on the driver; [] when
    there are none.  Any other failure — an unreadable file, a missing
    column — propagates: a ledger read that failed must not pass for an
    empty ledger, or its caller would redo committed work and commit it
    twice."""
    import pyarrow.dataset as ds

    files = committed_files(path)
    if not files:
        return []
    return ds.dataset(files, format="parquet").to_table(columns=columns).to_pylist()


def append_rows(path: str, table) -> None:
    """Append a pyarrow `table` to the engine table at `path` as one new
    parquet file, atomically: it is written under a hidden
    `.part-<uuid>.parquet` name and renamed to `part-<uuid>.parquet`
    only once complete, so a reader sees all of the rows or none.  The
    file sits beside any Spark-written parts and reads back with them."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def parquet_schema(base: str, leaf: "str | None" = None):
    """The schema `spark.read.parquet(base)` would infer, read on the
    driver from ONE parquet footer (the first file under `leaf`, default
    `base`) — the rule Spark's own inference follows with mergeSchema
    off, minus the Spark job it launches for it.  The table must be
    Spark-written (index tables, rollup snapshots), so the footer's row
    metadata holds the Spark schema itself (Spark reads it the same way,
    and makes every field nullable on any file-source read, declared or
    inferred).  Every `k=v` dir between `base` and that file becomes an
    int partition column (index partition keys — `cell`, `grp` — are
    small ints)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructField, StructType

    found = None
    for root, dirs, files in os.walk(leaf or base):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        names = sorted(
            f for f in files if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if names:
            found = os.path.join(root, names[0])
            break
    if found is None:
        raise FileNotFoundError(f"no parquet file under {leaf or base}")
    data = StructType.fromJson(
        json.loads(pq.read_schema(found).metadata[b"org.apache.spark.sql.parquet.row.metadata"])
    )
    parts = [
        seg.split("=", 1)[0]
        for seg in os.path.relpath(os.path.dirname(found), base).split(os.sep)
        if "=" in seg
    ]
    return StructType(data.fields + [StructField(p, IntegerType(), True) for p in parts])


def declared_parquet(spark, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the schema declared from one
    footer (`parquet_schema`) — same columns and types, no inference
    job."""
    return spark.read.schema(parquet_schema(path)).parquet(path)


def tombstone_ids(path: str) -> "list[int]":
    """The index's logically-deleted ids (streaming.ann.ann_delete),
    read on the driver — sorted and distinct; [] without a tombstone
    table.  Only committed files count (`committed_rows`), as they do
    to Spark.  Driver-sized by construction: every purge or recenter
    physically drops them and clears the table."""
    rows = committed_rows(os.path.join(path, "tombstones"), ["id"])
    return sorted({r["id"] for r in rows})
