"""`ingest`: writes beside reads.

Each round lands seeded event, vector and caption files, runs
`streaming.rollup.incremental_rollup` and `streaming.ann.ivf_stream_insert`
to completion (availableNow triggers), tombstones a few ids with
`ann_delete`, then issues read-after-write queries: `read_rollup` plus an
aggregate, a DSL `ann_probe` on the growing index, a session coalesce over
the landed events and a phrase search over the landed captions.  After the
reads, `compact_posting_lists(purge=True)` rewrites the fragments and
tombstones the round's inserts and deletes left behind.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, corpus, harness, report

BASE_VECTORS = 1000
N_CELLS = 16
EVENTS_PER_ROUND = 2000
VECTORS_PER_ROUND = 200
CAPTIONS_PER_ROUND = 50
DELETES_PER_ROUND = 4
SESSION_TYPES = ("view", "click")
ZIPF_A = 1.3  # caption phrase words: popular words repeat
# the layer each read-after-write query's latency is reported as, in the
# order the reads run
READ_LAYERS = {
    "rollup": "read_after_write.rollup",
    "ann": "operators.similarity.probe",
    "sessions": "operators.intervals",
    "captions": "operators.text",
}
# measured rounds, each ending in a compaction.  A round costs ~10 s on a
# 4-core host, most of it fixed per-trigger and per-job overhead, not
# data, so a one-minute run holds few of them: compacting every round
# rather than every few keeps several compaction cycles in each run, and
# two sets of reads per round buy read samples cheaper than more rounds
MIN_ROUNDS = 2
ROUND_S = 10.0  # more --seconds buys more rounds
READS_PER_ROUND = 2  # sets of reads, each with fresh parameters
USERS = 500
HOUR_US = 3600 * 1_000_000
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
)
VECTORS_SCHEMA = "vec_id long, embedding array<float>, label int"


def zipf_pick(rng: np.random.Generator, candidates: list):
    """Candidate at a Zipf(ZIPF_A)-distributed rank (rank 1 most popular),
    truncated to the candidate list by redrawing."""
    rank = int(rng.zipf(ZIPF_A))
    while rank > len(candidates):
        rank = int(rng.zipf(ZIPF_A))
    return candidates[rank - 1]


def traced_read(i: int, kind: int) -> bool:
    """Whether a traced run traces read `kind` (its position in READ_LAYERS)
    in a round's read set `i`: half of each set, and each kind once per
    round, so its untraced run in the same round gives the tracing
    overhead at the same index size."""
    return (i + kind) % 2 == 0


class Store:
    """One ingest deployment's directories and what has landed in it."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = np.random.default_rng([seed, 4])
        self.landing = {k: os.path.join(root, "landing", k) for k in ("events", "vectors", "captions")}
        self.index = os.path.join(root, "index")
        self.state = os.path.join(root, "rollup")
        self.ckpt = {k: os.path.join(root, "checkpoints", k) for k in ("rollup", "ann")}
        self.events: list = []  # landed pyarrow tables, per round
        self.captions: list = []
        self.live: list[int] = list(range(BASE_VECTORS))
        self.vectors: dict[int, list] = {}  # landed vectors by id
        self.next_vec = BASE_VECTORS
        self.input_bytes = 0
        self.written_bytes = 0
        self._seen: set[tuple] = set()

    def build_base(self, spark) -> None:
        from esper_tv_spark.operators.similarity import ivf_build_index

        os.makedirs(self.root, exist_ok=True)
        base = os.path.join(self.root, "base_vectors.parquet")
        pq.write_table(corpus.embeddings_table(self.rng, BASE_VECTORS), base)
        ivf_build_index(spark.read.parquet(base), self.index, n_cells=N_CELLS, fast=True)
        self.track_writes()

    def _land(self, kind: str, rnd: int, table) -> int:
        """Write next to the landing dir, then rename in: a stream never
        sees a partial file."""
        os.makedirs(self.landing[kind], exist_ok=True)
        tmp = os.path.join(self.root, f".{kind}-{rnd}.parquet")
        pq.write_table(table, tmp)
        size = os.path.getsize(tmp)
        os.rename(tmp, os.path.join(self.landing[kind], f"round-{rnd:05d}.parquet"))
        return size

    def land(self, rnd: int) -> int:
        """Land one round's files; returns rows to be made durable."""
        ev = corpus.events_table(
            self.rng, EVENTS_PER_ROUND, USERS, first_id=rnd * EVENTS_PER_ROUND,
            start_us=corpus.EVENTS_START_US + rnd * HOUR_US, span_us=HOUR_US,
        )
        vec = corpus.embeddings_table(self.rng, VECTORS_PER_ROUND, first_id=self.next_vec)
        cap = corpus.documents_table(self.rng, CAPTIONS_PER_ROUND, first_id=rnd * CAPTIONS_PER_ROUND)
        self.input_bytes += self._land("events", rnd, ev) + self._land("vectors", rnd, vec)
        self._land("captions", rnd, cap)
        self.events.append(ev)
        self.captions.append(cap)
        self.vectors.update(zip(vec["vec_id"].to_pylist(), vec["embedding"].to_pylist()))
        self.live.extend(range(self.next_vec, self.next_vec + VECTORS_PER_ROUND))
        self.next_vec += VECTORS_PER_ROUND
        return ev.num_rows + vec.num_rows

    def track_writes(self) -> None:
        """Add every file under the index and rollup state that is new or
        rewritten since the last call to the bytes-written tally."""
        for top in (self.index, self.state):
            for d, _, files in os.walk(top):
                for f in files:
                    st = os.stat(os.path.join(d, f))
                    key = (d, f, st.st_size, st.st_mtime_ns)
                    if key not in self._seen:
                        self._seen.add(key)
                        self.written_bytes += st.st_size

    def pick_deletes(self) -> list[int]:
        # never the newest round's vectors: the ann read queries one of them
        older = self.live[: len(self.live) - VECTORS_PER_ROUND]
        picks = [int(i) for i in self.rng.choice(older, DELETES_PER_ROUND, replace=False)]
        self.live = [i for i in self.live if i not in set(picks)]
        return picks


def fragments(index: str) -> int:
    from esper_tv_spark.streaming.ann import posting_fragment_census

    return sum(posting_fragment_census(index).values())


def run(spark, tracer, work: str, seed: int, seconds: float, prepared=None) -> dict:
    from pyspark.sql import functions as F

    from esper_tv_spark.frontend.dsl import run_query
    from esper_tv_spark.frontend.result_json import to_result_json
    from esper_tv_spark.session import normalize_ts
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists, ivf_stream_insert
    from esper_tv_spark.streaming.rollup import incremental_rollup, read_rollup

    # set-up: the base IVF index (the session's first Spark jobs), then a
    # warm-up round.  Neither repeats within one JVM, so each is timed once
    t0, setup_ticks = time.perf_counter(), harness.cpu_ticks()
    store = Store(os.path.join(work, "store"), seed)
    build_s = harness.timed(lambda: store.build_base(spark))[0]

    def commit(rnd: int) -> tuple[float, float]:
        """Both streams to completion; returns (rollup ms, index insert ms)."""
        events = spark.readStream.schema(EVENTS_SCHEMA).parquet(store.landing["events"])
        vectors = spark.readStream.schema(VECTORS_SCHEMA).parquet(store.landing["vectors"])
        with tracer.span("streaming.rollup.commit", req=rnd) as rollup:
            incremental_rollup(
                events, ["event_type"],
                {"n": ("count", "event_id"), "total": ("sum", "value"), "vmax": ("max", "value")},
                store.state, store.ckpt["rollup"],
            ).start().awaitTermination()
        with tracer.span("streaming.ann.insert", req=rnd) as insert:
            ivf_stream_insert(vectors, store.index, store.ckpt["ann"]).start().awaitTermination()
        return rollup.ms, insert.ms

    def reads(rnd: int, i: int, traced: bool) -> list[tuple]:
        """One set of read-after-write queries, each as (op, result, spec,
        query id, traced)."""
        query_id = store.next_vec - 1 - int(store.rng.integers(0, VECTORS_PER_ROUND // 2))
        query_vec = [float(x) for x in store.vectors[query_id]]
        phrase = " ".join(zipf_pick(store.rng, corpus.VOCAB) for _ in range(2))
        events = normalize_ts(spark.read.parquet(store.landing["events"]), "ts")
        start = F.unix_micros("ts") / F.lit(1e6)
        spans = events.select("user_id", "event_type", start.alias("start"), (start + F.col("value")).alias("end"))
        cat = {
            "vectors": spark.read.parquet(store.landing["vectors"]),
            "spans": spans,
            "captions": spark.read.parquet(store.landing["captions"]),
        }
        specs = {
            "rollup": {
                "table": "rollup",
                "agg": {"events": {"fn": "sum", "col": "n"}, "total": {"fn": "sum", "col": "total"},
                        "types": {"fn": "count"}},
            },
            "ann": {
                "table": "vectors",
                "similarity": {"op": "ann_probe", "index": "live", "query": query_vec, "k": 10, "n_probe": 3},
            },
            "sessions": {
                "table": "spans",
                "where": [["event_type", "==", {"lit": SESSION_TYPES[i % len(SESSION_TYPES)]}]],
                "intervals": [{"op": "coalesce", "keys": ["user_id"], "gap": 300}],
                "select": ["user_id", "start", "end"],
                "order_by": [["end", "desc"], ["user_id", "asc"]],
                "limit": 20,
            },
            "captions": {
                "table": "captions",
                "text": {"op": "phrase_search", "phrase": phrase},
                "order_by": [["n_matches", "desc"], ["doc_id", "asc"]],
                "limit": 20,
            },
        }
        family = {"rollup": "relational", "ann": "similarity", "sessions": "intervals", "captions": "text"}
        out = []
        for kind, (name, spec) in enumerate(specs.items()):
            tracer.enabled = traced and traced_read(i, kind)
            if name == "rollup":
                def compile_fn(spec=spec):
                    return run_query({"rollup": read_rollup(spark, store.state)}, spec)
            else:
                def compile_fn(spec=spec):
                    return run_query(cat, spec, index_catalog={"live": store.index})
            op, res = harness.timed_op(tracer, rnd, name, family[name], harness.DSL_LAYERS, compile_fn, to_result_json)
            out.append((op, res, spec, query_id if name == "ann" else None, tracer.enabled))
        tracer.enabled = traced
        return out

    failed_other = attempted_other = 0
    problems: list[str] = []
    rounds: list[dict] = []
    read_log: list[tuple] = []  # (round, name, result, spec, query id, expected totals)

    def one_round(rnd: int, traced: bool, read_sets: int = READS_PER_ROUND) -> tuple[list, int]:
        """Returns ((op, traced) per read, rows made durable)."""
        nonlocal failed_other, attempted_other
        tracer.enabled = traced
        info: dict = {"round": rnd}
        rows = store.land(rnd)
        t_land = time.perf_counter()
        attempted_other += 1
        try:
            info["rollup_ms"], info["insert_ms"] = commit(rnd)
            info["commit_ms"] = (time.perf_counter() - t_land) * 1000.0
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            failed_other += 1
            rows = 0
            print(f"ingest commit failed: {e!r}"[:500], file=sys.stderr)
        attempted_other += 1
        try:
            with tracer.span("streaming.ann.delete", req=rnd) as sp:
                ann_delete(spark, store.index, store.pick_deletes())
            info["delete_ms"] = sp.ms
        except Exception:  # noqa: BLE001
            failed_other += 1
        store.track_writes()
        expected = {
            "events": sum(t.num_rows for t in store.events),
            **{t: max_end(store.events, t) for t in SESSION_TYPES},
        }
        results = [r for i in range(read_sets) for r in reads(rnd, i, traced)]
        for op, res, spec, qid, _ in results:
            read_log.append((rnd, op.name, res, spec, qid, expected))
        attempted_other += 1
        try:
            before = fragments(store.index)
            with tracer.span("streaming.ann.compact", req=rnd) as sp:
                compact_posting_lists(spark, store.index, purge=True)
            info.update(compact_ms=sp.ms, fragments_before=before, fragments_after=fragments(store.index))
        except Exception:  # noqa: BLE001
            failed_other += 1
        store.track_writes()
        rounds.append(info)
        return [(r[0], r[4]) for r in results], rows

    # warm-up: the first round (stream start-up, checkpoints, first
    # snapshot), with one set of reads: the first is the cold one
    enabled = tracer.enabled
    warm_ops = [op for op, _ in one_round(0, False, read_sets=1)[0]]
    warm_s = time.perf_counter() - t0 - build_s
    setup_share = harness.run_share(setup_ticks)
    first_measured = len(read_log)

    ops, untraced = [], []
    rows_durable = 0
    # a fixed number of rounds for the --seconds budget, so every run lands
    # the same amount of data and reads at the same index sizes; a traced
    # run adds one round and traces half of the reads (see traced_read) and
    # every write
    n_rounds = max(MIN_ROUNDS, round(seconds / ROUND_S)) + (1 if enabled else 0)
    t_start, run_ticks = time.perf_counter(), harness.cpu_ticks()
    for rnd in range(1, n_rounds + 1):
        round_ops, rows = one_round(rnd, enabled)
        for op, traced in round_ops:
            (ops if traced or not enabled else untraced).append(op)
        rows_durable += rows
    elapsed = time.perf_counter() - t_start
    elapsed_share = harness.run_share(run_ticks)
    tracer.enabled = enabled

    # ----------------------------------------------------------- checks
    n_checks = 0
    for rnd_i, name, res, spec, qid, expected in read_log[first_measured:]:
        # the caption reference is recomputed for the first measured round
        if res is None or (name == "captions" and rnd_i != read_log[first_measured][0]):
            continue
        rows_out = checks.rows_of(res)
        n_checks += 1
        if name == "rollup":
            if rows_out[0]["events"] != expected["events"]:
                problems.append(f"round {rnd_i}: rollup has {rows_out[0]['events']} events, landed {expected['events']}")
        elif name == "ann":
            if qid not in [r["vec_id"] for r in rows_out]:
                problems.append(f"round {rnd_i}: freshly inserted vector {qid} not found by ann_probe")
        elif name == "sessions":
            etype = spec["where"][0][2]["lit"]
            if not rows_out or not checks.close(rows_out[0]["end"], expected[etype]):
                problems.append(f"round {rnd_i}: newest {etype} session does not end at the newest event")
        else:
            docs = [
                (i, t) for tb in store.captions[: rnd_i + 1]
                for i, t in zip(tb["doc_id"].to_pylist(), tb["text"].to_pylist())
            ]
            want = checks.expect_phrase(docs, spec["text"]["phrase"], spec["limit"])
            problems += checks.compare([(r["doc_id"], r["n_matches"]) for r in rows_out], want, "captions")
    problems += check_final(spark, store, read_rollup)
    n_checks += 2

    def median_of(key: str) -> float:
        return statistics.median([r[key] for r in rounds[1:] if key in r] or [0.0])

    layers = {
        "ingest.commit_p50_ms": median_of("commit_ms"),
        "streaming.rollup.commit_ms": median_of("rollup_ms"),
        "streaming.ann.insert_ms": median_of("insert_ms"),
        "streaming.ann.delete_ms": median_of("delete_ms"),
        "streaming.ann.compact_ms": median_of("compact_ms"),
        "streaming.ann.fragments_before": median_of("fragments_before"),
        "streaming.ann.fragments_after": median_of("fragments_after"),
        "ingest.write_amp": store.written_bytes / max(1, store.input_bytes),
        "ingest.space_amp": (harness.dir_bytes(store.index) + harness.dir_bytes(store.state)) / max(1, store.input_bytes),
        **report.named_layers(ops + untraced, READ_LAYERS),
    }
    stats = {"rounds": len(rounds) - 1, "input_bytes": store.input_bytes, "layers": layers, "rounds_detail": rounds}
    return {
        "ops": ops,
        "untraced": untraced,
        "warm_ops": warm_ops,
        "latency_ms": [o.ms for o in ops if o.ok],
        "latency_run_share": [o.run_share for o in ops if o.ok],
        "setup_run_share": setup_share,
        "elapsed_run_share": elapsed_share,
        "setup_s": build_s + warm_s,
        "setup_detail": {"base_index_s": build_s, "warmup_s": warm_s},
        "work_done": rows_durable,
        "elapsed_s": elapsed,
        "checks": n_checks,
        "problems": problems,
        "other_attempted": attempted_other,
        "other_failed": failed_other,
        "detail": stats,
    }


def max_end(tables: list, etype: str) -> float:
    """Latest end (seconds) over every landed event of type `etype`."""
    best = 0.0
    for t in tables:
        ts = t["ts"].cast("int64").to_numpy() / 1e6
        end = ts + t["value"].to_numpy()
        mask = np.array(t["event_type"].to_pylist()) == etype
        if mask.any():
            best = max(best, float(end[mask].max()))
    return best


def check_final(spark, store: Store, read_rollup) -> list[str]:
    """The rollup equals a from-scratch aggregate of every landed event,
    and the live posting rows are exactly inserted minus deleted ids."""
    import pyarrow as pa

    problems = []
    got = {r["event_type"]: r for r in read_rollup(spark, store.state).collect()}
    allev = pa.concat_tables(store.events)
    agg = allev.group_by("event_type").aggregate([("event_id", "count"), ("value", "sum"), ("value", "max")])
    for et, n, total, vmax in zip(*(agg[c].to_pylist() for c in ("event_type", "event_id_count", "value_sum", "value_max"))):
        r = got.get(et)
        if r is None or r["n"] != n or not checks.close(r["total"], total) or r["vmax"] != vmax:
            problems.append(f"rollup[{et}] = {r and (r['n'], r['total'], r['vmax'])}, expected {(n, total, vmax)}")
    if len(got) != agg.num_rows:
        problems.append(f"rollup has {len(got)} groups, expected {agg.num_rows}")
    posting = pq.read_table(os.path.join(store.index, "cells"), columns=["id"])["id"].to_pylist()
    tomb_dir = os.path.join(store.index, "tombstones")
    dead = set(pq.read_table(tomb_dir)["id"].to_pylist()) if os.path.isdir(tomb_dir) else set()
    live = [i for i in posting if i not in dead]
    if len(live) != len(set(live)) or set(live) != set(store.live):
        problems.append(
            f"index holds {len(set(live))} live ids ({len(live)} rows), expected {len(store.live)}"
        )
    return problems
