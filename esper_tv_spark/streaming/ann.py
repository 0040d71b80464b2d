"""Incremental maintenance for the persisted IVF index.

Completes the streaming story for the ANN family (reference pattern:
face_embeddings.py:74-96 — a frozen embedding store that repeated queries
probe; new embeddings arrive continuously in the reference's ingest
pipeline, embed_kernel.py batch jobs): new vectors are folded into the
`ivf_build_index` store as they arrive, deletes are logical, and offline
maintenance compacts, purges and re-centers the cells.

- `*_stream_insert` — Structured Streaming foreachBatch sinks that
  assign each micro-batch against the STORED (frozen) centroids and
  append posting rows to ``cells/`` partitioned by cell.  Because the
  centroids are frozen, stream-inserting a tail of the corpus is
  bit-identical to rebuilding the index over the union (as long as the
  rank-based init set — the k smallest-id vectors — is in the base
  build), which is exactly what the stream==batch test asserts.  The
  insert path touches only the micro-batch, never the existing lists.
  The IVF and IVF-SQ bodies are one Arrow pass
  (`similarity._posting_pass`: centroids read on the driver, cell and
  stored columns computed per batch), so a micro-batch runs one Spark
  job, its append; an empty one writes no file.

- `compact_posting_lists` / `ivf_recenter` — the rewrites.  Compaction
  collapses insert fragments (and, with purge, drops tombstoned rows);
  recenter is one Lloyd iteration over the deterministic, scaled-BIGINT
  means of each cell.  Every rewrite stages the tables it changes in
  new generations and publishes them (`sources.sidecar.publish`), the
  index's only swap: readers keep the generation they resolved, and a
  crash before a publish leaves an unpublished dir the next one drops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esper_tv_spark.operators.similarity import _apply_tombstones, _posting_pass, lloyd_assign
from esper_tv_spark.sources import sidecar


def _require_dirs_layout(index_path: str, op: str) -> None:
    """Streaming maintenance (insert fragments / per-cell compaction /
    recenter's per-cell moves / fragment census) operates on the
    hive-partitioned `cells/` layout.  The SORTED object-store layout
    (`cells_sorted/`, similarity._write_posting) is the frozen serving
    layout — its corpora are REBUILT, not streamed into — so every
    maintenance op fails closed with a pointer instead of silently
    appending rows the sorted reader would still serve but the dir-based
    maintenance bookkeeping would never see."""
    if os.path.isdir(os.path.join(index_path, "cells_sorted")):
        raise ValueError(
            f"{op}: index at {index_path} uses the sorted (object-store) "
            "posting layout — streaming maintenance runs on the dirs "
            "layout; rebuild with layout='dirs' or rebuild the sorted "
            "index from the updated corpus"
        )


def _stored_centroids(spark: SparkSession, index_path: str) -> DataFrame:
    """The frozen centroids as (cluster, cvec); the schema is declared
    from a footer, so a per-batch re-read runs no inference job."""
    return sidecar.declared_parquet(spark, os.path.join(index_path, "centroids")).select(
        F.col("cell").alias("cluster"), F.col("cv").alias("cvec")
    )


def ivf_stream_insert(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
):
    """Return a ready-to-start writeStream that folds arriving vectors
    into an `ivf_build_index` store: per micro-batch, assign against the
    stored frozen centroids and append (cell, id, v, norm) posting rows
    PARTITIONED BY cell.  Centroids are re-read per batch (tiny table) so
    an `ivf_recenter` between batches takes effect on the next trigger.

    Delivery: the checkpoint makes the file source exactly-once per
    batch, but the append is not: a batch replayed after a crash BETWEEN
    the parquet append and the checkpoint commit appends its rows again
    (at-least-once, the same contract as the ledger sink in
    streaming/ingest.py).  No probe deduplicates on id, so probes return
    such an id twice.  The fix is a commit log keyed by (query id, batch
    id), ROADMAP item 1."""

    _require_dirs_layout(index_path, "ivf_stream_insert")

    def insert(batch_df: DataFrame, _batch_id: int) -> None:
        (
            _posting_pass(
                batch_df, os.path.join(index_path, "centroids"), id_col, vec_col, round_digits
            )
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(index_path, "cells"))
        )

    return (
        stream_df.writeStream.foreachBatch(insert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def ivfpq_stream_insert(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
):
    """Incremental maintenance for the FUSED IVF-PQ index
    (similarity.ivfpq_build_index): per micro-batch, assign the coarse
    cell against the stored frozen centroids AND encode the PQ code ranks
    against the stored frozen codebooks, then append (id, codes) posting
    rows PARTITIONED BY cell.  Both the coarse centroids and the
    codebooks are rank-based from the k smallest-id vectors, so as long
    as the base build contains that init set, stream-inserting a tail is
    bit-identical to rebuilding over the union (the stream==batch test).
    At 100 TB the insert path touches only the micro-batch: two tiny
    broadcast joins (n_cells centroids, m*k codebooks), one partitioned
    append — never a read of the existing posting lists."""
    from esper_tv_spark.operators.similarity import pq_encode_with_codebooks

    _require_dirs_layout(index_path, "ivfpq_stream_insert")

    def insert(batch_df: DataFrame, _batch_id: int) -> None:
        from esper_tv_spark.operators.similarity import (
            _ivfpq_meta,
            _ivfpq_rotation,
            rotate_vectors,
        )

        spark = batch_df.sparkSession
        meta = _ivfpq_meta(index_path)
        by_residual = meta["by_residual"]
        if meta["opq"]:
            # an OPQ index lives in rotated space: rotate the micro-batch
            # with the SAME persisted rotation the build used, so stream
            # inserts stay bit-identical to a batch rebuild
            batch_df = rotate_vectors(
                batch_df,
                _ivfpq_rotation(index_path),
                id_col,
                vec_col,
                round_digits,
            )
        cents = _stored_centroids(spark, index_path)
        cb = sidecar.declared_parquet(spark, os.path.join(index_path, "codebooks"))
        assigned = lloyd_assign(
            batch_df, centroids=cents, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        ).withColumnRenamed("cluster", "cell")
        if by_residual:
            from esper_tv_spark.operators.similarity import residual_vectors

            enc_in = residual_vectors(
                batch_df,
                assigned,
                cents.select(F.col("cluster").alias("cell"), F.col("cvec").alias("cv")),
                id_col,
                vec_col,
            )
            codes = pq_encode_with_codebooks(
                enc_in, cb, id_col=id_col, vec_col="__rv", round_digits=round_digits
            )
        else:
            codes = pq_encode_with_codebooks(
                batch_df, cb, id_col=id_col, vec_col=vec_col, round_digits=round_digits
            )
        (
            assigned.select(F.col(id_col).alias("id"), "cell")
            .join(codes, "id")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(index_path, "cells"))
        )

    return (
        stream_df.writeStream.foreachBatch(insert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def ivfsq_stream_insert(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
):
    """Incremental maintenance for the IVF-SQ8 index
    (similarity.ivfsq_build_index): per micro-batch, assign the coarse
    cell against the stored frozen centroids and SQ-encode against the
    stored FROZEN per-dimension bounds, then append (id, codes) rows
    PARTITIONED BY cell.  The bounds are a build-time property — a
    vector outside the frozen range CLAMPS to code 0/255, exactly what
    every production scalar quantizer does (re-fitting bounds is a
    rebuild, not an insert).  Cell and codes come from one Arrow pass
    (`similarity._posting_pass`) that replays `lloyd_assign` and the
    batch build's `_sq_encode_expr` operation for operation, so inserted
    codes are bit-identical to batch-encoding the same rows against the
    same store (asserted in tests/test_streaming_ann.py)."""
    from esper_tv_spark.operators.similarity import _sq_bounds

    _require_dirs_layout(index_path, "ivfsq_stream_insert")

    def insert(batch_df: DataFrame, _batch_id: int) -> None:
        (
            _posting_pass(
                batch_df, os.path.join(index_path, "centroids"), id_col, vec_col,
                round_digits, sq_bounds=_sq_bounds(index_path),
            )
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(index_path, "cells"))
        )

    return (
        stream_df.writeStream.foreachBatch(insert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def ann_delete(spark: SparkSession, index_path: str, ids: "list[int]") -> int:
    """LOGICAL delete from a persisted index (ivf / ivfpq / ivfsq): append
    the ids to a `tombstones/` table — O(ids), no posting-list I/O.  A
    physical delete at 100 TB is a full-corpus rewrite (an id's cell is
    unknown without scanning), so production ANN systems tombstone and
    let maintenance reclaim: every probe reads the tombstone ids on the
    driver and filters its posting scan with `NOT id IN (...)`
    (similarity._apply_tombstones), and
    `compact_posting_lists(purge=True)` physically drops the rows and
    then removes the tombstone files it applied.

    The append is a driver-side parquet write (`sidecar.append_rows`):
    no Spark job, and no `_SUCCESS` file — the ids are visible to every
    reader once the call returns, and not before.  `spark` is unused
    and kept for the maintenance API's uniform signature.

    Contract: vector ids are unique and never reused — re-inserting a
    tombstoned id would stay hidden until a purge (the same id-space
    assumption every builder makes).  Duplicate ids in `ids` or across
    calls are harmless (the id set is deduplicated on read)."""
    import pyarrow as pa

    vals = list(ids)
    for i in vals:
        if isinstance(i, bool) or not isinstance(i, int):
            raise ValueError(f"ann_delete: id {i!r} is not an int")
    if not vals:
        raise ValueError("ann_delete: empty id list")
    sidecar.append_rows(
        os.path.join(index_path, "tombstones"), pa.table({"id": pa.array(vals, pa.int64())})
    )
    return len(vals)


def posting_fragment_census(index_path: str) -> dict[int, int]:
    """cell -> parquet fragment count for a persisted index's posting
    lists — the small-files health metric every streaming-insert
    deployment watches: each `*_stream_insert` micro-batch APPENDS one
    parquet fragment per touched cell, so a long-running ingest turns a
    probe's pruned scan into thousands of tiny file opens (the classic
    100 TB small-files problem).  Pure driver-side directory metadata —
    zero data read, no Spark job."""
    _require_dirs_layout(index_path, "posting_fragment_census")
    cells_dir = os.path.join(index_path, "cells")
    census: dict[int, int] = {}
    for entry in os.scandir(cells_dir):
        if not entry.is_dir() or not entry.name.startswith("cell="):
            continue
        n = sum(
            1
            for f in os.scandir(entry.path)
            if f.is_file() and f.name.endswith(".parquet")
        )
        census[int(entry.name.split("=", 1)[1])] = n
    return census


def _drop_applied_tombstones(tomb_dir: str, files: "list[str]") -> None:
    """After a rewrite's publish: delete the tombstone files it applied
    (`files`, listed before its tombstone ids were read) — never the
    whole table, which may hold ids an `ann_delete` appended during the
    rewrite; those stay and keep hiding their rows.  A crash before this
    call leaves applied tombstones, which re-apply as a no-op filter.
    An emptied table dir goes too (rmdir refuses if an append landed)."""
    for f in files:
        os.remove(f)
    if files:
        try:
            os.rmdir(tomb_dir)
        except OSError:
            pass


def _retire_empty_cells(spark: SparkSession, index_path: str) -> int:
    """Remove centroid rows whose cells hold ZERO live posting rows — the
    census-driven retirement pass `compact_posting_lists` runs when
    `retire_empty_cells=True`.  A purge that empties a cell leaves its
    centroid ranked by every probe: a dead cell in the top-n_probe is a
    wasted probe slot (the posting read skips missing dirs, so the probe
    silently returns fewer candidates than it paid for).  Retirement
    makes the quantizer's live surface match the corpus: probes rank
    only cells that can answer.

    Scope and contract:
    - detection is the fragment census (a dead cell has no `cell=<c>/`
      dir — a purge's repartitioned write emits no dir for an emptied
      cell), so retirement is idempotent and also catches cells emptied
      by PRIOR purges.  The census and the centroid ids are read on the
      driver, so a pass with nothing to retire launches no Spark job;
    - only `centroids/` is rewritten (two-level layout preserved:
      partitionBy grp).  `groups/` is quantizer STRUCTURE, not corpus
      state — level-1 centers stay, and a group whose cells all died
      simply stops winning cell ranks;
    - retirement is permanent until `ivf_recenter`/rebuild: stream
      inserts assign against the remaining centroids, so a retired
      cell's id space cannot be resurrected (same id-uniqueness
      contract as ann_delete);
    - the kept rows are written to a new generation and published
      (`sidecar.publish`); a crash before the publish leaves dead
      centroids ranked (correct, just wasteful) and the next
      retirement pass fixes it.

    Returns the number of retired cells (0 when none).  Raises on a
    fully-dead index — an empty centroid table would make every probe
    rank zero cells, which should be a loud lifecycle error, not an
    empty result."""
    cents_dir = os.path.join(index_path, "centroids")
    live = set(posting_fragment_census(index_path))
    persisted = sorted(int(r["cell"]) for r in sidecar.sidecar_rows(cents_dir, ["cell"]))
    dead = sorted(set(persisted) - live)
    if not dead:
        return 0
    if len(dead) == len(persisted):
        raise ValueError(
            f"_retire_empty_cells: every cell of {index_path} is empty — "
            "refusing to write an empty centroid table (rebuild or drop "
            "the index instead)"
        )
    keep = sidecar.declared_parquet(spark, cents_dir).where(~F.col("cell").isin(dead))
    gen = sidecar.new_generation(cents_dir)
    if os.path.isdir(os.path.join(index_path, "groups")):
        keep.select("grp", "cell", "cv").write.partitionBy("grp").parquet(gen)
    else:
        keep.select("cell", "cv").write.parquet(gen)
    sidecar.publish(cents_dir, gen)
    return len(dead)


def compact_posting_lists(
    spark: SparkSession, index_path: str, min_fragments: int = 2,
    purge: bool = False, retire_empty_cells: bool = False,
) -> dict:
    """Compact fragmented posting-list partitions down to ONE parquet
    file per cell — the maintenance op that closes the streaming-insert
    loop (insert appends fragments; recenter fixes drift; THIS fixes
    file count).  Works unchanged on all three index layouts (ivf raw
    vectors, ivfpq codes, ivfsq codes): compaction is schema-agnostic —
    it rewrites rows, it never interprets them.

    Only cells with >= `min_fragments` fragments are REWRITTEN (one
    partition-pruned scan + one hash repartition on `cell`, so each cell
    lands in exactly one task = one output file); already-compact cells'
    fragments are HARD-LINKED into the new generation (driver-side
    metadata only, no data movement — at 100 TB rewriting every cell to
    fix a few hot ones would be a full-corpus I/O pass).  The new
    generation is then published (`sidecar.publish`): probes running
    meanwhile keep reading the generation they resolved, and a crash
    before the publish leaves the index as it was.  Compaction never
    changes CONTENT — probe results are bit-identical before and after
    (asserted in tests/test_streaming_ann.py).

    `purge=True` additionally applies the index's `tombstones/` table
    (ann_delete) PHYSICALLY: every cell is rewritten with the
    tombstoned ids dropped (a tombstoned id's cell is unknown, so a
    purge is by definition a full rewrite — that is why deletes are
    logical in the first place), and the tombstone files it applied
    are removed AFTER the publish (`_drop_applied_tombstones`; ids
    deleted during the rewrite stay tombstoned).  Probe results are
    bit-identical before/after a purge (the probes' filter was already
    hiding the rows — asserted in tests).

    `retire_empty_cells=True` additionally runs `_retire_empty_cells`
    AFTER the publish: centroids of cells left with zero live rows are
    dropped from the ranking surface (see that docstring for scope and
    the probe-slot argument).  Off by default — retirement legitimately
    CHANGES probe results (a freed slot admits the next live cell), so
    the bit-identical-across-purge contract (q102) holds only without
    it.

    Returns {"cells_total", "cells_compacted", "fragments_before",
    "fragments_after"} (+ "purged_ids" when purging, + "cells_retired"
    when retiring)."""
    import shutil

    _require_dirs_layout(index_path, "compact_posting_lists")
    cells_dir = os.path.join(index_path, "cells")
    tomb_dir = os.path.join(index_path, "tombstones")
    tomb_files = sidecar.committed_files(tomb_dir) if purge else []
    tomb_ids = sidecar.tombstone_ids(index_path) if tomb_files else []
    src = os.path.realpath(cells_dir)
    census = posting_fragment_census(index_path)
    if tomb_ids:
        # a purge rewrites EVERY cell (the tombstoned ids' cells are
        # unknown) — min_fragments no longer gates
        hot = sorted(census)
    else:
        hot = sorted(c for c, n in census.items() if n >= min_fragments)
    stats = {
        "cells_total": len(census),
        "cells_compacted": len(hot),
        "fragments_before": sum(census.values()),
    }
    if tomb_ids:
        stats["purged_ids"] = len(tomb_ids)
    if not hot:
        stats["fragments_after"] = stats["fragments_before"]
        if retire_empty_cells:
            stats["cells_retired"] = _retire_empty_cells(spark, index_path)
        return stats

    gen = sidecar.new_generation(cells_dir)
    rewrite = sidecar.declared_parquet(spark, src).where(F.col("cell").isin(hot))
    if tomb_ids:
        rewrite = rewrite.where(~F.col("id").isin(tomb_ids))
    rewrite.repartition(F.col("cell")).write.partitionBy("cell").parquet(gen)
    # carry the already-compact cells across via hard links (fall back
    # to copy on filesystems without link support)
    for cell in set(census) - set(hot):
        dst_dir = os.path.join(gen, f"cell={cell}")
        os.makedirs(dst_dir, exist_ok=True)
        for f in os.scandir(os.path.join(src, f"cell={cell}")):
            if not (f.is_file() and f.name.endswith(".parquet")):
                continue
            dst = os.path.join(dst_dir, f.name)
            try:
                os.link(f.path, dst)
            except OSError:
                shutil.copy2(f.path, dst)
    sidecar.publish(cells_dir, gen)
    _drop_applied_tombstones(tomb_dir, tomb_files)
    if retire_empty_cells:
        stats["cells_retired"] = _retire_empty_cells(spark, index_path)
    stats["fragments_after"] = sum(posting_fragment_census(index_path).values())
    return stats


def ivf_recenter(
    spark: SparkSession, index_path: str, round_digits: int = 6,
    group_train_iters: int = 0,
) -> None:
    """One Lloyd iteration as offline compaction: recompute each cell's
    centroid as the deterministic elementwise mean of its posting
    vectors, then reassign ALL posting rows against the new centroids and
    rewrite both tables.  Each table is staged in a new generation and
    the tables are published back-to-back once every write finished
    (`sidecar.publish` — never overwrite a table being read).  A crash
    before the publishes leaves the index as it was; one between them
    leaves complete tables of two generations, which the next recenter
    reconciles (it recomputes the centroids from the posting rows).
    Cell LABELS are preserved (mean of cell c keeps label c), so probes
    and the census keep their key space.

    Determinism: each element is rounded at `round_digits` and scaled to
    BIGINT before the sum, so partial aggregation order cannot change the
    mean; the final divide + round returns to double once.  Shuffle
    shape: posexplode to (cell, pos) partial sums — map-side combine
    reduces the exchange to n_cells x dim rows regardless of corpus size.

    TWO-LEVEL indexes (a `groups/` table is present — see
    similarity._write_centroids): the new centroids get REGROUPED against
    the same n_groups via `_group_centers` — pass the index's
    `group_train_iters` (recorded in ivfpq/ivfsq meta.json; raw IVF
    callers state it) to keep a TRAINED grouping trained across the
    rewrite, else the regroup silently reverts to rank-init seeds — and
    `groups/` is republished with them: stale level-1 centers over
    recentered cells would silently mis-prune probes.

    The group count and the schemas of the posting and staged-centroid
    reads come from the driver (`sidecar`): no inference job."""
    _require_dirs_layout(index_path, "ivf_recenter")
    scale = float(10 ** round_digits)
    cells_dir = os.path.join(index_path, "cells")
    cents_dir = os.path.join(index_path, "centroids")
    groups_dir = os.path.join(index_path, "groups")
    # recenter is a full rewrite: apply (and then retire) any logical
    # deletes — keeping tombstoned vectors would bake them into the new
    # centroid means AND resurrect them in the rewritten posting lists
    tomb_dir = os.path.join(index_path, "tombstones")
    tomb_files = sidecar.committed_files(tomb_dir)
    posting = _apply_tombstones(
        sidecar.declared_parquet(spark, cells_dir), sidecar.tombstone_ids(index_path)
    )

    elem = posting.select(
        "cell", "id", F.posexplode(F.col("v")).alias("pos", "x")
    ).select(
        "cell",
        "pos",
        F.round(F.round(F.col("x"), round_digits) * F.lit(scale), 0)
        .cast("long")
        .alias("sx"),
    )
    means = (
        elem.groupBy("cell", "pos")
        .agg(F.sum("sx").alias("ssum"), F.count(F.lit(1)).alias("n"))
        .select(
            "cell",
            "pos",
            F.round((F.col("ssum") / F.col("n")) / F.lit(scale), round_digits).alias("m"),
        )
    )
    new_cents = (
        means.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    )
    staged = {t: sidecar.new_generation(t) for t in (cells_dir, cents_dir)}
    if os.path.isdir(groups_dir):
        from esper_tv_spark.operators.similarity import _group_centers

        n_groups = len(sidecar.sidecar_rows(groups_dir, ["grp"]))
        staged[groups_dir] = sidecar.new_generation(groups_dir)
        gdf = _group_centers(new_cents, n_groups, round_digits, group_train_iters)
        gdf.write.parquet(staged[groups_dir])
        (
            lloyd_assign(
                new_cents,
                centroids=sidecar.declared_parquet(spark, staged[groups_dir]).select(
                    F.col("grp").alias("cluster"), F.col("gv").alias("cvec")
                ),
                id_col="cell", vec_col="cv", round_digits=round_digits,
            )
            .withColumnRenamed("cluster", "grp")
            .join(new_cents, "cell")
            .select("grp", "cell", "cv")
            .write.partitionBy("grp")
            .parquet(staged[cents_dir])
        )
    else:
        new_cents.write.parquet(staged[cents_dir])

    (
        _posting_pass(posting, staged[cents_dir], "id", "v", round_digits)
        .write.partitionBy("cell")
        .parquet(staged[cells_dir])
    )
    for table, gen in staged.items():
        sidecar.publish(table, gen)
    _drop_applied_tombstones(tomb_dir, tomb_files)
