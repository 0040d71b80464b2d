"""`batch`: notebook analytics.

Whole passes over a fixed job list of contract queries at sf0.1 (one per
engine layer the notebooks exercise), each job fully collected, in a
seeded order per pass.  Shuffles, joins, window passes and Arrow UDFs
dominate; the DSL front-end is not on this path.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import checks, corpus, harness, report

SF = 0.1
MIN_PASSES = 2
PASS_S = 14.0  # a warm pass on a 4-core host; more --seconds buys more passes
# one contract query per engine layer the notebooks exercise: the operator
# family (for the per-layer medians) and the layer its time is reported as.
# Listed slowest-cold first, the order the warm-up starts them in.
# q34 stands for domain.composites rather than q56 (commercial detection):
# q56's DuckDB oracle alone takes ~23 s on four threads.  The other interval
# jobs (q18, q20) and the second caption and dedup jobs (q45, q28) exercise
# the same layers as q21, q75 and q85 and are left out to keep a pass short.
JOBS = {
    "q34_interview_composite": ("intervals", "domain.composites"),
    "q96_ivf_knn_join": ("similarity", "operators.similarity"),
    "q85_semantic_dedup": ("similarity", "operators.dedup"),
    "q66_coverage_sweep": ("intervals", "operators.sweep"),
    "q21_interval_overlap_measure": ("intervals", "operators.intervals"),
    "q08_weighted_screen_time": ("relational", "domain.screen_time"),
    "q75_bm25_search": ("text", "operators.text"),
}
LAYERS = ("entry.query", "dataframe.collect")


def _write_corpus(sf_dir: str, seed: int) -> float:
    return harness.timed(lambda: corpus.write_corpus(sf_dir, SF, seed))[0]


def _oracles(sf_dir: str) -> dict:
    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    sql = entry.oracle_sql()
    con = checks.duck(sf_dir, threads=harness.cpus())
    try:
        return {name: checks.oracle_rows(con, sql[name]) for name in JOBS}
    finally:
        con.close()


def _helper(*args: str) -> subprocess.Popen:
    """Start `python3 -m perfbench.batch <args>` in a child process, so
    neither the corpus build nor DuckDB counts toward the measured memory
    or competes with the engine for the CPU."""
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.batch", *args], cwd=harness.ROOT, stdout=subprocess.PIPE
    )


def _finish(proc: subprocess.Popen) -> bytes:
    out, _ = proc.communicate()
    if proc.returncode:
        raise RuntimeError(f"helper {proc.args[3:]} exited with {proc.returncode}")
    return out


def _stop(proc: "subprocess.Popen | None") -> None:
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.communicate()


def prepare(work: str, seed: int) -> subprocess.Popen:
    """Write the corpus in a helper process, beside the Spark session start.
    Another helper computes the DuckDB oracles after the timed passes."""
    return _helper("corpus", os.path.join(work, "sf"), str(seed))


def run(spark, tracer, work: str, seed: int, seconds: float, prepared) -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    sf_dir = os.path.join(work, "sf")
    helper, oracle_proc = prepared, None

    def job(req: int, name: str, d: str):
        def collect(df):
            rows = [tuple(r) for r in df.collect()]
            spark.catalog.clearCache()
            return df.columns, rows

        return harness.timed_op(tracer, req, name, JOBS[name][0], LAYERS, lambda: qs[name](spark, d), collect)

    try:
        corpus_s = float(_finish(helper).split()[-1])
        setup_ticks = harness.cpu_ticks()
        # warm-up: the job list once on the measured corpus (codegen, the
        # JIT, Python workers, q96's persisted IVF index), one thread per
        # core: the quickest way through the cold pass, which alone runs ~3x
        # a warm one
        t0 = time.perf_counter()

        def warm(name: str) -> tuple[str, float]:
            t = time.perf_counter()
            try:
                qs[name](spark, sf_dir).collect()
            except Exception:  # noqa: BLE001 — the timed passes count failures
                traceback.print_exc(limit=3, file=sys.stderr)
            return name, time.perf_counter() - t

        with ThreadPoolExecutor(harness.cpus()) as pool:
            warm_job_s = dict(pool.map(warm, JOBS))
        spark.catalog.clearCache()
        warm_s = time.perf_counter() - t0
        setup_share = harness.run_share(setup_ticks)

        rng = np.random.default_rng([seed, 3])
        enabled = tracer.enabled
        ops, untraced, first = [], [], {}
        req, passes, complete, shares, steal = 0, [], [], [], []
        # a fixed number of whole sequential passes, in a seeded job order,
        # for the --seconds budget, so every run measures the same job mix.
        # A traced run adds one pass and traces each job in every other
        # pass, half of the jobs starting traced: the untraced runs of each
        # job give the tracing overhead at about the same warmth
        n_passes = max(MIN_PASSES, round(seconds / PASS_S)) + (1 if enabled else 0)
        position = {name: i for i, name in enumerate(JOBS)}
        t_start, run_ticks = time.perf_counter(), harness.cpu_ticks()
        for i in range(n_passes):
            tp, ticks, ok = time.perf_counter(), harness.cpu_ticks(), True
            for name in rng.permutation(list(JOBS)):
                tracer.enabled = enabled and (i + position[name]) % 2 == 1
                op, res = job(req, str(name), sf_dir)
                (ops if tracer.enabled or not enabled else untraced).append(op)
                ok = ok and op.ok
                if op.ok and name not in first:
                    first[str(name)] = res
                req += 1
            passes.append(time.perf_counter() - tp)
            complete.append(ok)
            shares.append(harness.run_share(ticks))
            steal.append(harness.steal_share(ticks))
        tracer.enabled = enabled
        elapsed = time.perf_counter() - t_start
        elapsed_share = harness.run_share(run_ticks)

        # checks, outside the timed region: a helper computes the oracles
        # while this process waits
        t_check = time.perf_counter()
        problems = [f"{n}: no successful run" for n in JOBS if n not in first]
        oracle_path = os.path.join(work, "oracles.pkl")
        try:
            oracle_proc = _helper("oracles", sf_dir, oracle_path)
            _finish(oracle_proc)
            with open(oracle_path, "rb") as f:
                oracle_results = pickle.load(f)
        except Exception as e:  # noqa: BLE001 — counted as failed checks
            oracle_results = {}
            problems.append(f"DuckDB oracles failed: {e!r}"[:500])
        for name, (cols, rows) in first.items():
            if name in oracle_results:
                problems += checks.check_batch_job(name, cols, rows, oracle_results[name])
        check_s = time.perf_counter() - t_check
    finally:
        _stop(helper)
        _stop(oracle_proc)
    return {
        "ops": ops,
        "untraced": untraced,
        "warm_ops": [],
        "latency_ms": [p * 1000.0 for p, ok in zip(passes, complete) if ok],
        "latency_run_share": [r for r, ok in zip(shares, complete) if ok],
        "setup_run_share": setup_share,
        "elapsed_run_share": elapsed_share,
        "setup_s": warm_s,
        "setup_detail": {"corpus_write_s": corpus_s, "warm_job_s": warm_job_s},
        "work_done": sum(o.ok for o in ops),
        "elapsed_s": elapsed,
        "checks": len(JOBS),
        "problems": problems,
        "detail": {
            "passes_s": passes,
            "passes_cpu_steal_share": steal,
            "passes_run_share": shares,
            "check_s": check_s,
            "layers": report.named_layers(ops, {n: layer for n, (_, layer) in JOBS.items()}, "s"),
        },
    }


if __name__ == "__main__":
    # helper entry point: `corpus <sf_dir> <seed>` prints the write time;
    # `oracles <sf_dir> <out.pkl>` pickles the DuckDB oracle results
    if sys.argv[1] == "corpus":
        print(_write_corpus(sys.argv[2], int(sys.argv[3])))
    else:
        with open(sys.argv[3], "wb") as f:
            pickle.dump(_oracles(sys.argv[2]), f)
