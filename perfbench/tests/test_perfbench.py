"""The benchmark's own tests: seeded inputs, metric names, the contract of
BENCHMARK.json, and the reference computations behind the output checks.
None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench import checks, corpus, report
from perfbench.ingest import READ_LAYERS, READS_PER_ROUND, Store, traced_read, zipf_pick

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_corpus_same_seed_same_bytes_other_seed_differs(tmp_path):
    corpus.write_corpus(str(tmp_path / "a"), 0.001, 7)
    corpus.write_corpus(str(tmp_path / "b"), 0.001, 7)
    corpus.write_corpus(str(tmp_path / "c"), 0.001, 8)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert sorted(a) == [f"{t}.parquet" for t in sorted(corpus.TABLES)]
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_zipf_pick_repeats_the_popular_head():
    import numpy as np

    rng = np.random.default_rng(5)
    picks = [zipf_pick(rng, corpus.VOCAB) for _ in range(200)]
    assert set(picks) <= set(corpus.VOCAB)
    assert picks.count(corpus.VOCAB[0]) > picks.count(corpus.VOCAB[-1])


def test_ingest_landing_same_seed_same_bytes_other_seed_differs(tmp_path):
    def land(name, seed):
        store = Store(str(tmp_path / name), seed)
        for rnd in range(2):
            store.land(rnd)
        return _files(os.path.join(str(tmp_path / name), "landing"))

    a, b, c = land("a", 11), land("b", 11), land("c", 12)
    assert len(a) == 6 and a == b
    assert all(a[k] != c[k] for k in a)


def _ops(traced: bool) -> list[report.Op]:
    """Ops as an untraced run records them, or with the job counts a
    traced run adds."""
    n = 1 if traced else 0
    return [
        report.Op(f"t{i}", fam, 10.0 + i, 20.0 + i, jobs=n * i, tasks=n * 2 * i)
        for i, fam in enumerate(report.FAMILIES * 3)
    ]


def _declared(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


def _lat(ops: list[report.Op]) -> list[float]:
    return [o.ms for o in ops if o.ok]


def test_traced_and_untraced_ops_give_same_end_to_end_names():
    untraced = report.end_to_end(_lat(_ops(False)), 1.0, 10, 2.0, 100.0)
    traced = report.end_to_end(_lat(_ops(True)), 1.0, 10, 2.0, 100.0)
    passes = report.end_to_end([14000.0, 15000.0], 1.0, 14, 29.0, 100.0)
    assert set(untraced) == set(traced) == set(passes) == _declared("end_to_end")


def test_every_output_metric_is_declared():
    e2e = report.with_units(report.end_to_end(_lat(_ops(False)), 1.0, 10, 2.0, 100.0))
    layers = report.with_units(report.per_layer(_ops(True), _ops(False), 36, 5.0))
    assert set(e2e) == _declared("end_to_end")
    assert set(layers) == _declared("per_layer")
    assert all(v["value"] != 0 for v in e2e.values())


def test_traced_reads_trace_each_kind_once_per_round():
    for kind in range(len(READ_LAYERS)):
        assert [traced_read(i, kind) for i in range(READS_PER_ROUND)].count(True) == 1
    for i in range(READS_PER_ROUND):
        assert sum(traced_read(i, k) for k in range(len(READ_LAYERS))) == len(READ_LAYERS) // 2


def test_run_share_is_the_unstolen_share_of_wanted_cpu():
    from perfbench.harness import cpu_ticks, run_share

    assert run_share((100, 10, 1000), (180, 30, 2000)) == 0.8
    assert run_share((100, 10, 1000), (100, 10, 1400)) == 1.0
    busy, steal, total = cpu_ticks()
    assert 0 <= steal <= total and 0 <= busy <= total


def test_overhead_compares_each_operation_with_itself():
    untraced = [report.Op("a", "text", 100.0, 0.0), report.Op("b", "text", 10.0, 0.0)]
    traced = [report.Op("a", "text", 104.0, 0.0), report.Op("b", "text", 14.0, 0.0),
              report.Op("c", "text", 500.0, 0.0)]
    assert report.overhead_ms(traced, untraced) == 4.0


def test_named_layers_take_the_median_per_layer():
    ops = [report.Op("q1", "text", 1000.0, 0.0), report.Op("q1", "text", 3000.0, 0.0),
           report.Op("q2", "text", 500.0, 0.0), report.Op("q3", "text", 9.0, 0.0, ok=False)]
    got = report.named_layers(ops, {"q1": "domain.x", "q2": "operators.y", "q3": "operators.z"}, "s")
    assert got == {"domain.x_s": 2.0, "operators.y_s": 0.5}


def test_batch_jobs_are_contract_queries():
    import __spark_entry__ as entry

    from perfbench.batch import JOBS

    assert set(JOBS) <= set(entry.queries())
    assert {family for family, _ in JOBS.values()} == set(report.FAMILIES)


def test_benchmark_json_meets_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert all(not p.startswith("/") and ".." not in p for p in spec["command"] + spec["paths"])
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_phrase_reference_counts_occurrences():
    docs = [(1, "sean spicer will resign today"), (2, "sean spicer said sean spicer"), (3, "a a a")]
    assert checks.expect_phrase(docs, "sean spicer", 10) == [(2, 2), (1, 1)]
    assert checks.expect_phrase(docs, "a a", 10) == [(3, 2)]
    assert checks.expect_phrase(docs, "sean spicer", 1) == [(2, 2)]
