"""Turn measured operations into the metrics `BENCHMARK.json` declares.

Pure functions over plain records, so the metric names and their
derivation are testable without a Spark session.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
FAMILIES = ("relational", "text", "intervals", "similarity")


@dataclass
class Op:
    """One user-visible operation: a batch job or an ingest
    read-after-write query."""

    name: str
    family: str
    compile_ms: float
    result_ms: float
    ok: bool = True
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    exchanges: int = 0
    self_ms: float = 0.0
    run_share: float = 1.0  # see harness.run_share

    @property
    def ms(self) -> float:
        return self.compile_ms + self.result_ms + self.self_ms


def declared() -> dict[str, dict]:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation); 0 when nothing succeeded,
    a run whose failures are counted."""
    if len(values) <= 1:
        return float(values[0]) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def with_units(values: dict[str, float]) -> dict[str, dict]:
    spec = declared()
    return {k: {"value": v, "unit": spec[k]["unit"]} for k, v in values.items()}


def end_to_end(
    lat: list[float], setup_s: float, work_done: float, elapsed_s: float, peak_rss_mb: float
) -> dict[str, float]:
    """`lat` holds the latencies (ms) of the workload's user-visible waits
    (batch passes or ingest reads); `work_done` counts its unit of work
    (jobs or rows made durable) completed in `elapsed_s` wall seconds."""
    return {
        "setup_s": setup_s,
        "p50_ms": pct(lat, 50),
        "p90_ms": pct(lat, 90),
        "throughput_per_s": work_done / elapsed_s,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(traced: list[Op], untraced: list[Op], spans: int, bookkeeping_ms: float) -> dict[str, float]:
    ok = [o for o in traced if o.ok]
    out = {
        "query.build_ms": median([o.compile_ms for o in ok]),
        "query.execute_ms": median([o.result_ms for o in ok]),
    }
    for fam in FAMILIES:
        out[f"operators.{fam}_ms"] = median([o.ms for o in ok if o.family == fam])
    out.update({
        "client.self_ms": median([o.self_ms for o in ok]),
        "spark.jobs_per_op": median([o.jobs for o in ok]),
        "spark.jobs_per_op.similarity": median([o.jobs for o in ok if o.family == "similarity"]),
        "spark.tasks_per_op": median([o.tasks for o in ok]),
        "spark.tasks": sum(o.tasks for o in traced),
        "spark.tasks_failed": sum(o.tasks_failed for o in traced),
        "plans.exchanges_per_op": median([o.exchanges for o in ok]),
        "trace.overhead_ms": overhead_ms(ok, [o for o in untraced if o.ok]),
        "trace.bookkeeping_ms": bookkeeping_ms / max(1, len(traced)),
        "trace.spans": spans,
    })
    return out


def overhead_ms(traced: list[Op], untraced: list[Op]) -> float:
    """Median, over operation names run both ways, of the traced minus the
    untraced median latency: what tracing adds to one operation."""
    diffs = []
    for name in sorted({o.name for o in traced}):
        t = [o.ms for o in traced if o.name == name]
        u = [o.ms for o in untraced if o.name == name]
        if u:
            diffs.append(median(t) - median(u))
    return median(diffs)


def named_layers(ops: list[Op], layer_of: dict[str, str], unit: str = "ms") -> dict[str, float]:
    """Median latency (in `unit`, ms or s) of the ops whose name maps to
    each layer in `layer_of`, keyed `<layer>_<unit>`."""
    scale = 1000.0 if unit == "s" else 1.0
    by: dict[str, list[float]] = {}
    for o in ops:
        if o.ok and o.name in layer_of:
            by.setdefault(layer_of[o.name], []).append(o.ms / scale)
    return {f"{layer}_{unit}": median(v) for layer, v in sorted(by.items())}


def breakdown(ops: list[Op]) -> dict[str, dict]:
    """Per operation name: samples, median latency and (traced) median
    jobs, tasks and exchanges — the detail behind the per-layer medians."""
    by: dict[str, list[Op]] = {}
    for o in ops:
        by.setdefault(o.name, []).append(o)
    return {
        name: {
            "n": len(v),
            "failed": sum(not o.ok for o in v),
            "p50_ms": round(median([o.ms for o in v if o.ok]), 3),
            "compile_ms": round(median([o.compile_ms for o in v if o.ok]), 3),
            "result_ms": round(median([o.result_ms for o in v if o.ok]), 3),
            "jobs": median([o.jobs for o in v]),
            "tasks": median([o.tasks for o in v]),
            "tasks_failed": sum(o.tasks_failed for o in v),
            "exchanges": median([o.exchanges for o in v]),
        }
        for name, v in sorted(by.items())
    }
