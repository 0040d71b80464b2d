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

It also owns the one way to replace an index table, which every build
and rewrite takes (`stage`, then `publish_staged`, over `new_generation`
and `publish`): the table is a symlink swapped atomically onto a hidden
generation dir, and readers resolve it once per operation
(`os.path.realpath`), so a plan's files stay in one generation, and a
replaced generation is kept for `RETAIN_S` seconds for readers on it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
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

    dataset = ds.dataset(os.path.realpath(path), format="parquet", partitioning="hive")
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

    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    try:
        pq.write_table(table, tmp)
    except FileNotFoundError:
        # no table yet, or a purge just removed its emptied dir
        os.makedirs(path, exist_ok=True)
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
    small ints).  Both paths are resolved first (`publish`)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructField, StructType

    base = os.path.realpath(base)
    leaf = os.path.realpath(leaf) if leaf else base
    found = None
    for root, dirs, files in os.walk(leaf):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        names = sorted(
            f for f in files if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if names:
            found = os.path.join(root, names[0])
            break
    if found is None:
        raise FileNotFoundError(f"no parquet file under {leaf}")
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
    job.  The path is resolved first, so the plan reads one generation
    whatever `publish` does meanwhile."""
    path = os.path.realpath(path)
    return spark.read.schema(parquet_schema(path)).parquet(path)


def tombstone_ids(path: str) -> "list[int]":
    """The index's logically-deleted ids (streaming.ann.ann_delete),
    read on the driver — sorted and distinct; [] without a tombstone
    table.  Only committed files count (`committed_rows`), as they do
    to Spark.  Driver-sized by construction: every purge or recenter
    physically drops them and then removes the files it applied.  A
    file removed between the listing and the read was applied to the
    cells already published, so the read is retried once."""
    tomb = os.path.join(path, "tombstones")
    try:
        rows = committed_rows(tomb, ["id"])
    except FileNotFoundError:
        rows = committed_rows(tomb, ["id"])
    return sorted({r["id"] for r in rows})


def new_generation(table: str) -> str:
    """A fresh generation dir for the index table at `table`: the hidden
    sibling `.<name>.<uuid>`, which no reader lists until `publish`
    points `table` at it.  The writer creates it."""
    parent, name = os.path.split(table)
    return os.path.join(parent, f".{name}.{uuid.uuid4().hex}")


# How long a replaced generation outlives its replacement: a reader
# that resolved it (a probe whose plan listed its files, a DataFrame
# not yet collected) keeps its files this long however many publishes
# follow.  A reader slower than this can still lose them.  Measured on
# a 4-core host, from resolve to collect: perfbench ingest probes
# <= 0.6 s, the maintenance-race test's probes and joins <= 3.3 s,
# and the slowest, a cold kNN join at sf0.1 beside three other jobs,
# 5.3 s.  Each retained generation costs a copy of the table on disk:
# perfbench ingest compacts every 5.6-8.8 s, so this keeps up to 5.
RETAIN_S = 30.0
RETIRED = "_retired"  # written into a generation when it is replaced


def publish(table: str, gen: str) -> None:
    """Make the index table `table` a symlink to the generation `gen`: a
    relative symlink under a temporary name, `os.replace`d onto `table`
    — atomic, so a reader resolves the old target or the new one, never
    nothing.  The replaced generation gets a `_retired` marker (no
    reader lists `_` files), and every other hidden generation of the
    table is deleted unless it was replaced less than `RETAIN_S` ago
    (the grace period for readers that resolved it).  A generation
    staged but never published (a crash before this call) has no
    marker and is dropped, so crash recovery needs no code.  A plain
    dir at `table` (an index written before generations) is moved
    aside once, as the replaced generation."""
    parent, name = os.path.split(table)
    replaced = os.path.realpath(table)
    if os.path.isdir(table) and not os.path.islink(table):
        replaced = new_generation(table)
        os.rename(table, replaced)
    link = new_generation(table) + ".link"
    os.symlink(os.path.basename(gen), link)
    os.replace(link, table)
    if os.path.isdir(replaced):
        open(os.path.join(replaced, RETIRED), "w").close()
    horizon = time.time() - RETAIN_S
    for entry in os.scandir(parent or "."):
        if not entry.name.startswith(f".{name}.") or entry.name == os.path.basename(gen):
            continue
        if not entry.is_dir(follow_symlinks=False):
            os.unlink(entry.path)  # a temporary link left by a crash
            continue
        try:
            retired_at = os.stat(os.path.join(entry.path, RETIRED)).st_mtime
        except FileNotFoundError:
            retired_at = horizon  # never published
        if retired_at <= horizon:
            shutil.rmtree(entry.path)


def stage(writes) -> "dict[str, str | None]":
    """Write each `(table, write)` into a new generation of `table`, in
    order — `write(gen)` writes the rows — and return {table: gen} for
    `publish_staged`.  A `None` write stages the table's removal.  If a
    write raises, the generations staged so far are deleted and the
    error propagates: the tables are left as they were, with nothing
    beside them."""
    staged: dict = {}
    try:
        for table, write in writes:
            staged[table] = None
            if write is not None:
                staged[table] = new_generation(table)
                write(staged[table])
    except BaseException:
        for gen in staged.values():
            if gen is not None:
                shutil.rmtree(gen, ignore_errors=True)
        raise
    return staged


def publish_staged(staged: "dict[str, str | None]") -> None:
    """`publish` every generation of `stage`, in its order, so a table
    that marks a set of tables complete can go last.  A table staged
    for removal is removed: its symlink, or a plain dir."""
    for table, gen in staged.items():
        if gen is not None:
            publish(table, gen)
        elif os.path.islink(table):
            os.unlink(table)
        else:
            shutil.rmtree(table, ignore_errors=True)
