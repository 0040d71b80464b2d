"""Structured Streaming ingest + windowing.

The reference is batch-only (SURVEY §2.11): offline ingest
(/root/reference/app/esper/ingest.py:71-109), bulk Spark snapshots
(sql_dump.py:18-23), and a ScannerJob ledger for incremental re-runs
(scannerutil.py:136-146, 174-180). This module adds the streaming path the
north star asks for:

- file-arrival sources for new videos/annotations/captions/events
  (`file_stream`) — the streaming twin of the batch catalog;
- tumbling / sliding / session window aggregations with watermarks for
  late data — session windows are exactly the rekall dilate+coalesce idiom
  (interview_with_person_x.py:61-64) applied to a stream;
- `write_with_ledger`: foreachBatch upsert with the job-ledger idempotency
  of scannerutil.py:174-180 (epoch id recorded atomically with the data via
  partition overwrite, so replayed epochs are no-ops).

Every aggregation here is expressed so the SAME code works in batch mode
(DataFrame in -> DataFrame out): pass a batch DataFrame and it degrades to a
normal groupBy — one logical definition, two execution modes.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from esper_tv_spark.sources import sidecar


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival streaming source. At scale, set
    maxFilesPerTrigger to bound micro-batch size and use a compact dir
    layout (date=.../channel=...) so the file listing stays cheap."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling window aggregation; watermark bounds state for late data."""
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    group_cols: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Session-window aggregation (gap-based). The streaming form of
    intervals.coalesce for point events."""
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .withColumn("session_end", F.col("w.end"))
        .drop("w")
    )


def write_with_ledger(
    df: DataFrame,
    out_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    job_name: str = "stream",
):
    """foreachBatch parquet sink with job-ledger idempotency.

    Mirrors the reference's committed-job ledger (ScannerJob,
    scannerutil.py:136-146, 174-180): each micro-batch writes to a
    batch-partitioned directory and appends a ledger row; a replayed epoch
    (failure/restart) sees its id in the ledger and skips, so the sink is
    exactly-once at the directory level.

    The ledger is read and appended on the driver (sources.sidecar), so
    the batch's data write is its only Spark job.  A ledger that exists
    but cannot be read fails the batch: treating it as empty would
    rewrite a committed epoch and append its row twice.
    """
    import pyarrow as pa

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        committed = {r["epoch_id"] for r in sidecar.committed_rows(ledger_dir, ["epoch_id"])}
        if epoch_id in committed:
            return
        # overwrite, not append: the directory is keyed by epoch_id, so a
        # replay that crashed after the data write but before the ledger
        # append rewrites the same epoch instead of duplicating its rows
        batch_df.withColumn("__epoch", F.lit(epoch_id)).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        row = {"job": pa.array([job_name], pa.string()), "epoch_id": pa.array([epoch_id], pa.int64())}
        sidecar.append_rows(ledger_dir, pa.table(row))

    return (
        df.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
