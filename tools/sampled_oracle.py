"""Sampled large-scale oracle for the documented sf100-oracle-INFEASIBLE
queries (q85 SemDeDup, q94 OPQ IVF-PQ, q103 trained-groups hier probe) —
converts their 1000x evidence from "structurally argued" to
"spot-hash-proven" (round-7 VERDICT #5; q103 added per round-9 #4).

Why full oracles are infeasible there: q94's rotation replay rebuilds
rotated lists for ALL n vectors (n x 64 rows, each a 64-dot, then a
regroup — measured 119 GB in DuckDB at sf100); q85's pair join is
Theta(n^1.5 * dim) interpreted.  The DECOMPOSITION here sidesteps both:

q94 — stored-state spot-check + full probe replay over stored state:
  (a) STORED CODES for a deterministic id sample of the probed cells are
      re-derived end-to-end in DuckDB (rotation via a 64-column literal R
      trained by the same engine-free numpy trainer, coarse assignment,
      per-subspace argmin against the STORED codebooks) and compared.
  (b) the reported top-10 is re-derived COMPLETELY: DuckDB reads the
      persisted posting lists (hive-partitioned parquet) for the probed
      cells, scores every stored code row with the replayed LUT, and the
      top-10 (adist, vec_id) must match the Spark probe exactly.  Only
      the per-row encode is sampled — the ranking over stored state is
      exhaustive, because LUT scoring is 8 lookups/row.
  (c) probed-cell selection + LUT construction are replayed from the
      stored centroids/codebooks parquet and the rotated query.

q85 — sampled assignment + sampled verdict replay (production path:
  frozen rank centroids, GEMM assignment + GEMM pair tiles):
  (a) for a deterministic id sample, DuckDB recomputes the argmin-d2
      cluster against the SAME frozen centroid set (the k smallest-id
      vectors, rounded at 6) and compares to Spark's assignment.
  (b) for the same sample, DuckDB recomputes the is_dup verdict — does a
      strictly-smaller-id mate in the SAME cluster (membership from the
      Spark output, whose sampled rows (a) just verified) have rounded
      cosine >= threshold — and compares to Spark's verdict.
  Every rounding in both engines is round-half-away at 6 digits (the
  BLAS kernels use _round_half_away, DuckDB round() matches); the only
  residual divergence risk is a pre-round last-ulp difference from GEMM
  vs sequential summation, which the report counts rather than hides.

Usage: python tools/sampled_oracle.py [sf_dir] [--sample=200]
       (default sf_dir: .scale/sf100)
Emits one JSON line per check; exit 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROUND = 6
SCALE = 10**ROUND


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='48GB'")
    con.execute(f"SET temp_directory='{os.path.join(REPO, '.scale', 'duck_tmp')}'")
    return con


def q94_check(spark, m, sf_dir: str, sample: int) -> dict:
    import numpy as np

    idx = m._q94_index_dir(spark, sf_dir)
    got = [(int(r["vec_id"]), float(r["adist"])) for r in m.q94_opq_ann(spark, sf_dir).collect()]
    rot = np.asarray(m._q94_rotation(sf_dir), dtype=np.float64)

    con = _duck()
    con.execute(f"CREATE VIEW emb AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    con.execute(
        "CREATE VIEW cells AS SELECT * FROM read_parquet("
        f"'{idx}/cells/*/*.parquet', hive_partitioning=1)"
    )
    con.execute(f"CREATE VIEW cents AS SELECT * FROM '{idx}/centroids/*.parquet'")
    con.execute(f"CREATE VIEW cb AS SELECT * FROM '{idx}/codebooks/*.parquet'")
    rot_rows = ",\n".join(
        f"({i}, [{', '.join(repr(float(rot[j][i])) for j in range(64))}]::DOUBLE[])"
        for i in range(64)
    )
    con.execute(f"CREATE VIEW rotc AS SELECT * FROM (VALUES {rot_rows}) t(i, c)")
    # rotated query (vec_id 0), as one DOUBLE[] — same per-dim rounded dots
    # the full q94 oracle uses
    con.execute(
        """CREATE VIEW rq AS
        WITH q0 AS (SELECT list_transform(list_slice(embedding::DOUBLE[], 1, 64),
                                          x -> CAST(x AS DOUBLE)) AS v
                    FROM emb WHERE vec_id = 0)
        SELECT list(round(list_dot_product(q0.v, rotc.c), 6) ORDER BY rotc.i) AS qv
        FROM q0, rotc"""
    )
    # probed cells from the STORED centroids
    probe = [
        int(r[0])
        for r in con.execute(
            """SELECT cents.cell FROM cents, rq
            ORDER BY round(list_dot_product(cents.cv, rq.qv)
                     / (sqrt(list_dot_product(cents.cv, cents.cv))
                        * sqrt(list_dot_product(rq.qv, rq.qv))), 6) DESC,
                     cents.cell ASC LIMIT 3"""
        ).fetchall()
    ]
    probe_sql = ", ".join(str(c) for c in probe)
    # LUT from the STORED codebooks + the rotated query
    con.execute(
        f"""CREATE VIEW lut AS
        SELECT cb.subspace, cb.rk,
               CAST(round(round(
                   list_dot_product(qs.sv, qs.sv)
                   - 2.0 * list_dot_product(qs.sv, cb.sc)
                   + list_dot_product(cb.sc, cb.sc), {ROUND}) * {SCALE}.0, 0) AS BIGINT) AS sd2
        FROM cb JOIN (
            SELECT j.range AS subspace,
                   list_slice(rq.qv, j.range * 8 + 1, j.range * 8 + 8) AS sv
            FROM rq, range(8) j
        ) qs ON qs.subspace = cb.subspace"""
    )
    # (b) COMPLETE top-10 replay over the stored posting lists
    top = con.execute(
        f"""WITH scored AS (
            SELECT cells.id,
                   CAST(sum(lut.sd2) AS BIGINT) AS ssum
            FROM cells, range(8) j
            JOIN lut ON lut.subspace = j.range
                    AND lut.rk = cells.codes[j.range + 1]
            WHERE cells.cell IN ({probe_sql})
            GROUP BY cells.id
        )
        SELECT id, round(ssum / {SCALE}.0, {ROUND}) AS adist
        FROM scored ORDER BY adist ASC, id ASC LIMIT 10"""
    ).fetchall()
    want = [(int(r[0]), float(r[1])) for r in top]
    topk_match = want == got

    # (a) sampled stored-codes replay: every ~(n_probed/sample)-th id of
    # the probed cells, end-to-end rotation + encode in SQL
    n_probed = con.execute(
        f"SELECT count(*) FROM cells WHERE cell IN ({probe_sql})"
    ).fetchone()[0]
    mod = max(1, int(n_probed) // max(1, sample))
    bad_codes = con.execute(
        f"""WITH s_ids AS (
            SELECT id, codes FROM cells
            WHERE cell IN ({probe_sql}) AND id % {mod} = 0
        ),
        rv AS (
            SELECT e.vec_id, rotc.i,
                   round(list_dot_product(
                       list_transform(list_slice(e.embedding::DOUBLE[], 1, 64),
                                      x -> CAST(x AS DOUBLE)), rotc.c), {ROUND}) AS x
            FROM emb e JOIN s_ids ON s_ids.id = e.vec_id, rotc
        ),
        rvec AS (SELECT vec_id, list(x ORDER BY i) AS v FROM rv GROUP BY vec_id),
        subs AS (
            SELECT rvec.vec_id, j.range AS subspace,
                   list_slice(rvec.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
            FROM rvec, range(8) j
        ),
        d AS (
            SELECT subs.vec_id, subs.subspace, cb.code, cb.rk,
                   round(list_dot_product(subs.sv, subs.sv)
                         - 2.0 * list_dot_product(subs.sv, cb.sc)
                         + list_dot_product(cb.sc, cb.sc), {ROUND}) AS d2
            FROM subs JOIN cb ON cb.subspace = subs.subspace
        ),
        a AS (
            SELECT vec_id, subspace, rk,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY d2 ASC, code ASC) AS rn
            FROM d
        )
        SELECT count(*)
        FROM a JOIN s_ids ON s_ids.id = a.vec_id
        WHERE a.rn = 1 AND s_ids.codes[a.subspace + 1] != a.rk"""
    ).fetchone()[0]
    n_sampled = con.execute(
        f"SELECT count(*) FROM cells WHERE cell IN ({probe_sql}) AND id % {mod} = 0"
    ).fetchone()[0]
    con.close()
    ok = topk_match and bad_codes == 0 and n_sampled > 0
    return {
        "step": "sampled_oracle_q94",
        "sf_dir": sf_dir,
        "probed_cells": probe,
        "rows_in_probed_cells": int(n_probed),
        "sampled_ids": int(n_sampled),
        "code_mismatches": int(bad_codes),
        "top10_exact_match": topk_match,
        "spark_top10": got,
        "ok": ok,
    }


def q85_check(spark, m, sf_dir: str, sample: int) -> dict:
    from pyspark.sql import functions as F

    from esper_tv_spark.operators.dedup import recommended_clusters, semantic_dedup

    emb = m._t(spark, sf_dir, "embeddings")
    n = m._parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
    k = recommended_clusters(n)
    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(k)
        .select(F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec"))
    )
    out = semantic_dedup(emb, k=k, threshold=0.4, centroids=cents)
    out_dir = os.path.join(REPO, ".scale", "sampled_oracle_q85_out")
    out.write.mode("overwrite").parquet(out_dir)

    mod = max(1, n // max(1, sample))
    con = _duck()
    con.execute(f"CREATE VIEW emb AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    con.execute(f"CREATE VIEW verdicts AS SELECT * FROM '{out_dir}/*.parquet'")
    con.execute(
        f"""CREATE VIEW cents AS
        SELECT vec_id AS cluster,
               list_transform(embedding::DOUBLE[], x -> round(x, {ROUND})) AS cv
        FROM emb ORDER BY vec_id LIMIT {k}"""
    )
    # (a) sampled assignment replay — argmin rounded d2, ties to the
    # smaller cluster id (the BLAS kernel's first-occurrence argmin)
    bad_assign = con.execute(
        f"""WITH s AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM emb WHERE vec_id % {mod} = 0
        ),
        d AS (
            SELECT s.vec_id, cents.cluster,
                   round(list_dot_product(s.v, s.v)
                         - 2.0 * list_dot_product(s.v, cents.cv)
                         + list_dot_product(cents.cv, cents.cv), {ROUND}) AS d2
            FROM s, cents
        ),
        a AS (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cluster ASC) AS rn
            FROM d
        )
        SELECT count(*)
        FROM a JOIN verdicts ON verdicts.vec_id = a.vec_id
        WHERE a.rn = 1 AND verdicts.cluster != a.cluster"""
    ).fetchone()[0]
    # (b) sampled verdict replay — membership from the Spark output
    # (sampled rows just verified), cosine re-derived exactly
    bad_verdict = con.execute(
        f"""WITH s AS (
            SELECT v.vec_id, v.cluster, v.is_dup, e.embedding::DOUBLE[] AS vec
            FROM verdicts v JOIN emb e USING (vec_id)
            WHERE v.vec_id % {mod} = 0
        ),
        mates AS (
            SELECT s.vec_id, s.is_dup,
                   max(CASE WHEN round(
                       list_dot_product(s.vec, e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(s.vec, s.vec))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                  e.embedding::DOUBLE[]))), {ROUND})
                       >= 0.4 THEN 1 ELSE 0 END) AS has_mate
            FROM s
            JOIN verdicts v2 ON v2.cluster = s.cluster AND v2.vec_id < s.vec_id
            JOIN emb e ON e.vec_id = v2.vec_id
            GROUP BY s.vec_id, s.is_dup
        ),
        merged AS (
            SELECT s.vec_id, s.is_dup, coalesce(mates.has_mate, 0) AS want_dup
            FROM s LEFT JOIN mates ON mates.vec_id = s.vec_id
        )
        SELECT count(*) FROM merged WHERE is_dup != (want_dup = 1)"""
    ).fetchone()[0]
    n_sampled = con.execute(
        f"SELECT count(*) FROM verdicts WHERE vec_id % {mod} = 0"
    ).fetchone()[0]
    con.close()
    ok = bad_assign == 0 and bad_verdict == 0 and n_sampled > 0
    return {
        "step": "sampled_oracle_q85",
        "sf_dir": sf_dir,
        "n": n,
        "k": k,
        "sampled_ids": int(n_sampled),
        "assignment_mismatches": int(bad_assign),
        "verdict_mismatches": int(bad_verdict),
        "ok": ok,
    }


def q103_check(spark, m, sf_dir: str, sample: int) -> dict:
    """Sampled sf100 oracle for q103 (trained-groups hierarchical probe).

    Why the full oracle is infeasible at sf100: Q103_SQL derives
    everything from the base table, and DuckDB re-inlines the 2.05M x
    256-dim corpus CTE at each of its five references (two Lloyd
    iterations + final grouping + probe + rerank) — measured OOM at 32
    AND 80 GB caps (r9).  The decomposition sidesteps it by replaying
    against STORED index state (the q94 pattern):

    (a) level-1 TRAINING replay, EXHAUSTIVE: the two unrolled Lloyd
        iterations (rounded-d2 argmin, ties to the smaller grp; exact
        scaled-bigint coordinate means; empty groups keep their center)
        re-derived in DuckDB from the stored 16-row centroid table, and
        the resulting trained centers + final cell->group assignment
        compared to the stored groups/ and centroids/ tables exactly —
        the training arithmetic is the thing q103 exists to pin, and it
        is checked in full, not sampled;
    (b) PROBE replay over stored state, EXHAUSTIVE: group ranking
        (top-2 by rounded cosine), restricted cell ranking (top-3 among
        the winning groups' cells), then every stored posting row of the
        probed cells scored — the reported top-10 must match Spark's
        exactly;
    (c) sampled ASSIGNMENT replay: a deterministic id sample across the
        WHOLE corpus re-derives argmin-d2 cell from base embeddings and
        compares to the hive partition the row was stored under."""
    idx = m._hier_ivf_index_dir(spark, sf_dir, n_cells=16, n_groups=4, train_iters=2)
    got = [
        (int(r["vec_id"]), float(r["cosine_sim"]))
        for r in m.q103_trained_groups_ann(spark, sf_dir).collect()
    ]
    n = m._parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))

    con = _duck()
    con.execute(f"CREATE VIEW emb AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    con.execute(
        "CREATE VIEW cells AS SELECT * FROM read_parquet("
        f"'{idx}/cells/*/*.parquet', hive_partitioning=1)"
    )
    con.execute(
        "CREATE VIEW cents AS SELECT * FROM read_parquet("
        f"'{idx}/centroids/*/*.parquet', hive_partitioning=1)"
    )
    con.execute(f"CREATE VIEW grps AS SELECT * FROM '{idx}/groups/*.parquet'")

    # (a) training replay from the STORED cell centroids (16 rows) — the
    # same CTE unroll as Q103_SQL's g0..gassign, retargeted at stored state
    train_sql = f"""
WITH c AS (SELECT cell, cv FROM cents),
g0 AS (SELECT cell AS grp, cv AS gv FROM c ORDER BY cell LIMIT 4),
a1 AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell ORDER BY
             round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
                   + list_dot_product(g.gv, g.gv), {ROUND}) ASC, g.grp ASC) AS rn
    FROM c, g0 g) WHERE rn = 1
),
m1 AS (
  SELECT a1.grp, generate_subscripts(c.cv, 1) AS pos, unnest(c.cv) AS val
  FROM a1 JOIN c USING (cell)
),
s1 AS (
  SELECT grp, pos,
         round(CAST(sum(CAST(round(val * {SCALE}) AS BIGINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * {SCALE}.0), {ROUND}) AS mean
  FROM m1 GROUP BY grp, pos
),
l1 AS (SELECT grp, list(mean ORDER BY pos) AS gv FROM s1 GROUP BY grp),
g1 AS (SELECT g0.grp, coalesce(l1.gv, g0.gv) AS gv FROM g0 LEFT JOIN l1 USING (grp)),
a2 AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell ORDER BY
             round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
                   + list_dot_product(g.gv, g.gv), {ROUND}) ASC, g.grp ASC) AS rn
    FROM c, g1 g) WHERE rn = 1
),
m2 AS (
  SELECT a2.grp, generate_subscripts(c.cv, 1) AS pos, unnest(c.cv) AS val
  FROM a2 JOIN c USING (cell)
),
s2 AS (
  SELECT grp, pos,
         round(CAST(sum(CAST(round(val * {SCALE}) AS BIGINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * {SCALE}.0), {ROUND}) AS mean
  FROM m2 GROUP BY grp, pos
),
l2 AS (SELECT grp, list(mean ORDER BY pos) AS gv FROM s2 GROUP BY grp),
g2 AS (SELECT g1.grp, coalesce(l2.gv, g1.gv) AS gv FROM g1 LEFT JOIN l2 USING (grp)),
gassign AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell ORDER BY
             round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
                   + list_dot_product(g.gv, g.gv), {ROUND}) ASC, g.grp ASC) AS rn
    FROM c, g2 g) WHERE rn = 1
)
"""
    bad_centers = con.execute(
        train_sql
        + """SELECT count(*) FROM g2 JOIN grps USING (grp) WHERE g2.gv != grps.gv"""
    ).fetchone()[0]
    bad_grouping = con.execute(
        train_sql
        + """SELECT count(*) FROM gassign JOIN cents USING (cell)
             WHERE gassign.grp != cents.grp"""
    ).fetchone()[0]

    # (b) probe replay over STORED state: trained-group ranking, restricted
    # cell ranking, exhaustive posting-list rerank
    con.execute(
        """CREATE VIEW rq AS
        SELECT embedding::DOUBLE[] AS qv FROM emb WHERE vec_id = 41"""
    )
    gprobe = [
        int(r[0])
        for r in con.execute(
            f"""SELECT g.grp FROM grps g, rq
            ORDER BY round(list_dot_product(g.gv, rq.qv)
                     / (sqrt(list_dot_product(g.gv, g.gv))
                        * sqrt(list_dot_product(rq.qv, rq.qv))), {ROUND}) DESC,
                     g.grp ASC LIMIT 2"""
        ).fetchall()
    ]
    gp_sql = ", ".join(str(g) for g in gprobe)
    probe = [
        int(r[0])
        for r in con.execute(
            f"""SELECT c.cell FROM cents c, rq
            WHERE c.grp IN ({gp_sql})
            ORDER BY round(list_dot_product(c.cv, rq.qv)
                     / (sqrt(list_dot_product(c.cv, c.cv))
                        * sqrt(list_dot_product(rq.qv, rq.qv))), {ROUND}) DESC,
                     c.cell ASC LIMIT 3"""
        ).fetchall()
    ]
    probe_sql = ", ".join(str(c) for c in probe)
    top = con.execute(
        f"""SELECT cells.id,
               round(list_dot_product(cells.v, rq.qv)
                     / (sqrt(list_dot_product(cells.v, cells.v))
                        * sqrt(list_dot_product(rq.qv, rq.qv))), {ROUND}) AS cs
        FROM cells, rq WHERE cells.cell IN ({probe_sql})
        ORDER BY cs DESC, cells.id ASC LIMIT 10"""
    ).fetchall()
    want = [(int(r[0]), float(r[1])) for r in top]
    topk_match = want == got

    # (c) sampled whole-corpus assignment replay vs stored partition
    mod = max(1, n // max(1, sample))
    bad_assign = con.execute(
        f"""WITH s AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM emb WHERE vec_id % {mod} = 0
        ),
        d AS (
            SELECT s.vec_id, cents.cell,
                   round(list_dot_product(s.v, s.v)
                         - 2.0 * list_dot_product(s.v, cents.cv)
                         + list_dot_product(cents.cv, cents.cv), {ROUND}) AS d2
            FROM s, cents
        ),
        a AS (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM d
        )
        SELECT count(*)
        FROM a JOIN cells ON cells.id = a.vec_id
        WHERE a.rn = 1 AND cells.cell != a.cell"""
    ).fetchone()[0]
    n_sampled = con.execute(
        f"SELECT count(*) FROM emb WHERE vec_id % {mod} = 0"
    ).fetchone()[0]
    con.close()
    ok = (
        bad_centers == 0
        and bad_grouping == 0
        and topk_match
        and bad_assign == 0
        and n_sampled > 0
    )
    return {
        "step": "sampled_oracle_q103",
        "sf_dir": sf_dir,
        "n": n,
        "trained_center_mismatches": int(bad_centers),
        "grouping_mismatches": int(bad_grouping),
        "probed_groups": gprobe,
        "probed_cells": probe,
        "top10_exact_match": topk_match,
        "sampled_ids": int(n_sampled),
        "assignment_mismatches": int(bad_assign),
        "spark_top10": got,
        "ok": ok,
    }


def main() -> int:
    sf_dir = next(
        (a for a in sys.argv[1:] if not a.startswith("--")),
        os.path.join(REPO, ".scale", "sf100"),
    )
    sample = 200
    for a in sys.argv[1:]:
        if a.startswith("--sample"):
            sample = int(a.split("=", 1)[1])

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    import __spark_entry__ as m
    from esper_tv_spark import get_spark

    spark = get_spark("sampled-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    rc = 0
    only = [a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only")]
    checks = (q94_check, q85_check, q103_check)
    if only:
        checks = tuple(c for c in checks if c.__name__ in only[0].split(","))
    for check in checks:
        t0 = time.time()
        try:
            row = check(spark, m, sf_dir, sample)
        except Exception as e:  # noqa: BLE001 — report, don't hide
            row = {"step": check.__name__, "ok": False, "err": f"{type(e).__name__}: {e}"}
        row["wall_s"] = round(time.time() - t0, 1)
        print(json.dumps(row), flush=True)
        if not row.get("ok"):
            rc = 1
        spark.catalog.clearCache()
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
