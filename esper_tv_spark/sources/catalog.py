"""Parquet catalog for the driver's testdata tables.

Mirrors the load/save API of the reference's Spark wrapper
(/root/reference/app/esper/spark.py:12-17,68-76 — `spark.load(key)` /
`spark.save(key, df)` with attribute-style table access) but the source of
truth is Parquet with its embedded schema; no CSV inference round-trip
(reference does CSV + inferSchema at spark.py:38-40).

At 100 TB the same API points at a partitioned lakehouse layout
((date, channel) partition keys per SURVEY §7.10); Parquet footer stats +
partition pruning make the scans cheap. Nothing here collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esper_tv_spark.session import ensure_runtime_confs
from esper_tv_spark.sources import sidecar

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Self-contained on ANY session: the driver's harness builds a bare
    # SparkSession, so assert the runtime confs before every read.
    ensure_runtime_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for spark.sql use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def save_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink (reference: spark.save, spark.py:72-76)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed+sorted Parquet table for co-located joins.

    Two fact tables bucketed on the same key with the same bucket count
    join with ZERO shuffle (Catalyst sees the hashed output partitioning) —
    the physical layout the 100 TB plan wants for faces⋈frames-class
    fact-fact joins on video_id, where neither side broadcasts. Sorting
    within buckets additionally removes the sort from sort-merge joins."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_derived_table(df: DataFrame, base_dir: str, job: str) -> bool:
    """Batch label write-back (reference identity.py:165-199: bulk_create of
    derived probability labels into FaceIdentity) — materialize a computed
    label table with the job-ledger commit discipline:

    - data lands under ``base_dir/data/job=<job>`` (overwrite: a rerun that
      crashed before commit rewrites, never duplicates);
    - the job id is appended to ``base_dir/_ledger`` only AFTER the data
      write (commit point);
    - a job already in the ledger is skipped entirely, so backfills are
      idempotent.

    The batch twin of streaming/ingest.write_with_ledger, with the same
    driver-side ledger (sources.sidecar: no Spark job reads or appends
    it) and the same rule that an unreadable ledger raises rather than
    passing for an empty one. Returns True if this call wrote (False =
    already committed)."""
    import pyarrow as pa

    ledger_dir = os.path.join(base_dir, "_ledger")
    if job in _committed_jobs(ledger_dir):
        return False
    df.write.mode("overwrite").parquet(os.path.join(base_dir, "data", f"job={job}"))
    sidecar.append_rows(ledger_dir, pa.table({"job": pa.array([job], pa.string())}))
    return True


def _committed_jobs(ledger_dir: str) -> "set[str]":
    # a set: the ledger is append-only, so two concurrent writers that both
    # saw an empty ledger can append the same job twice — dedupe on read or
    # the shared data partition double-counts
    return {r["job"] for r in sidecar.committed_rows(ledger_dir, ["job"])}


def read_derived_table(spark: SparkSession, base_dir: str) -> DataFrame:
    """Union of all COMMITTED jobs of a derived table (uncommitted data —
    crash between write and ledger append — is invisible)."""
    jobs = _committed_jobs(os.path.join(base_dir, "_ledger"))
    if not jobs:
        raise FileNotFoundError(f"no committed jobs under {base_dir}")
    out = None
    for j in sorted(jobs):
        part = spark.read.parquet(os.path.join(base_dir, "data", f"job={j}"))
        out = part if out is None else out.unionByName(part)
    return out


def save_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV export sink (reference: qs.save_to_csv / COPY TO CSV,
    base_models.py:42-46)."""
    df.write.mode(mode).option("header", "true").csv(path)


# FK graph for the driver's star schema: table -> {fk_col: (dim_table, key)}
FK_GRAPH: dict[str, dict[str, tuple[str, str]]] = {
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"), "l_partkey": ("part", "p_partkey"), "l_suppkey": ("supplier", "s_suppkey")},
    "orders": {"o_custkey": ("customer", "c_custkey")},
    "customer": {"c_nationkey": ("nation", "n_nationkey")},
    "supplier": {"s_nationkey": ("nation", "n_nationkey")},
    "nation": {"n_regionkey": ("region", "r_regionkey")},
}


def auto_join(
    catalog: dict[str, DataFrame],
    start: str,
    targets: list[str],
    fk_graph: dict[str, dict[str, tuple[str, str]]] | None = None,
) -> DataFrame:
    """BFS join-path discovery over the FK graph.

    Reference: Scanner's SQL source auto-generates SELECT..INNER JOIN chains
    by BFS over the Django FK graph (scannerutil.py:9-54, 92-121) — the one
    piece of its query machinery SURVEY §2.1 flags as worth keeping. Given a
    start table and target tables, finds FK paths and composes the joins;
    Catalyst still plans the physical join order/strategy."""
    graph = fk_graph if fk_graph is not None else FK_GRAPH

    def bfs(src: str, dst: str) -> list[tuple[str, str, str, str]]:
        # edges: (from_table, fk_col, to_table, key_col)
        frontier = [(src, [])]
        seen = {src}
        while frontier:
            table, path = frontier.pop(0)
            if table == dst:
                return path
            for fk, (to_t, key) in graph.get(table, {}).items():
                if to_t not in seen:
                    seen.add(to_t)
                    frontier.append((to_t, path + [(table, fk, to_t, key)]))
        raise ValueError(f"no FK path from {src!r} to {dst!r}")

    df = catalog[start]
    joined = {start}
    for target in targets:
        for from_t, fk, to_t, key in bfs(start, target):
            if to_t in joined:
                continue
            df = df.join(catalog[to_t], F.col(fk) == F.col(key))
            joined.add(to_t)
    return df
