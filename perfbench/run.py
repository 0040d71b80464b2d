"""Benchmark runner for the esper_tv_spark engine.

    python3 perfbench/run.py --workload {batch,ingest} --seed N \
        --seconds S --trace {0,1}

Runs from any working directory; all scratch files live under
`<repo>/.perfbench/` and the run's work directory is removed at exit.
Every process the run starts (the JVM, its Python workers, helpers) is
stopped and waited for before it exits, on every path out.
Spark runs on local[<cores available>] with a 2g driver.  One seeded
client drives the engine in a closed loop, only through its public
functions, and times every call from outside.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}.  With --trace 0 the metrics are the end-to-end set
of BENCHMARK.json; with --trace 1 they are the per-layer set, from the
same workload with half of its operations wrapped in spans (see
tracing.py), and the spans plus a per-operation breakdown are written to
`.perfbench/trace-<workload>-<seed>.json`.  Environment (nproc, load
average, CPU steal share, Spark version, source commit, seed), set-up
detail, the breakdown and each workload's named layer timings go to
stderr and to `.perfbench/result-*.json`.  `failed` counts failed
operations and failed output checks; `failed / attempted` is the run's
failed fraction.

End-to-end metrics.  Every time among them (setup_s, the latencies, the
elapsed time behind throughput_per_s) is a wall time scaled by the share
of wanted CPU time the hypervisor granted this machine over that interval
(`harness.run_share`): on a host that steals nothing it is the wall time;
on a shared one it leaves out other guests' load, which otherwise moves
these figures by tens of percent from run to run.  The plain wall figures
are in the record as `end_to_end_wall`.  p50_ms and p90_ms are over the
waits a user sees, 2 passes or 16 reads a run at the default --seconds,
so the tail has few samples beyond it:
  batch   one pass over the job list, each contract-query job fully
          collected, at sf0.1 (a notebook run top to bottom: a per-job
          median is one job's latency, the most noise-prone of the mix);
          throughput_per_s x 60 is jobs per minute
  ingest  one read-after-write query; throughput_per_s counts input rows
          made durable in the rollup and the ANN index, and the commit
          (freshness) median is `ingest.commit_p50_ms` in the layers
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, report  # noqa: E402
from perfbench.harness import ROOT  # noqa: E402

WORKLOADS = ("batch", "ingest")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.adopt_orphans()
    try:
        return _main(args)
    finally:
        harness.end_children()


def _main(args: argparse.Namespace) -> int:
    # fail fast, before starting anything, when the engine is not beside us
    import __spark_entry__  # noqa: F401
    import esper_tv_spark  # noqa: F401

    from perfbench.tracing import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    harness.prepare_env(work)
    workload = __import__(f"perfbench.{args.workload}", fromlist=["run"])
    ticks = harness.cpu_ticks()
    spark = None
    try:
        prepared = workload.prepare(work, args.seed) if hasattr(workload, "prepare") else None
        t0, session_ticks = time.perf_counter(), harness.cpu_ticks()
        spark = harness.start_spark(work)
        session_s = time.perf_counter() - t0
        session_share = harness.run_share(session_ticks)
        env = harness.environment(spark, args.seed)
        tracer = Tracer(spark, enabled=bool(args.trace))
        res = workload.run(spark, tracer, work, args.seed, args.seconds, prepared)
        rss = harness.peak_rss_mb(spark)
        if args.trace:
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {"env": env, "breakdown": report.breakdown(res["ops"]), "detail": res["detail"]})
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    env["cpu_steal_share"] = harness.steal_share(ticks)
    ops = res["ops"] + res["untraced"]
    attempted = len(ops) + res.get("other_attempted", 0) + res["checks"]
    failed = min(
        attempted,
        sum(not o.ok for o in ops) + res.get("other_failed", 0) + len(res["problems"]),
    )
    # the end-to-end set comes from every run; a traced run reports it in
    # its record only (its operations carry the tracing overhead).  Its
    # times are wall times less the CPU time the hypervisor stole from
    # this machine (see harness.run_share); the plain wall figures go to
    # the record
    e2e = report.end_to_end(
        [ms * r for ms, r in zip(res["latency_ms"], res["latency_run_share"])],
        session_s * session_share + res["setup_s"] * res["setup_run_share"],
        res["work_done"], res["elapsed_s"] * res["elapsed_run_share"], sum(rss.values()),
    )
    e2e_wall = report.end_to_end(
        res["latency_ms"], session_s + res["setup_s"], res["work_done"], res["elapsed_s"], sum(rss.values())
    )
    if args.trace:
        metrics = report.per_layer(
            res["ops"], res["untraced"], len(tracer.spans), tracer.bookkeeping_s * 1000.0
        )
    else:
        metrics = e2e
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "env": env,
        "session_start_s": session_s,
        "setup": {**res["setup_detail"], "warm_breakdown": report.breakdown(res["warm_ops"])},
        "samples": len(res["latency_ms"]),
        "elapsed_s": res["elapsed_s"],
        "peak_rss_mb": rss,
        "problems": res["problems"],
        "failed_frac": failed / attempted,
        "breakdown": report.breakdown(res["ops"]),
        "detail": res["detail"],
        "end_to_end": e2e,
        "end_to_end_wall": e2e_wall,
        "metrics": metrics,
    }
    if args.trace:
        record["span_self_ms"] = tracer.self_ms()
    with open(os.path.join(out_dir, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "metrics"}, default=str), file=sys.stderr)
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report.with_units(metrics),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
