"""Process set-up shared by the workloads: a self-contained work directory,
the Spark session and its shutdown, memory and environment records, and
the timed call wrapper every operation goes through."""

from __future__ import annotations

import hashlib
import os
import resource
import signal
import subprocess
import sys
import tempfile
import time
import traceback

from perfbench.report import Op

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
# the two layer calls of a DSL request
DSL_LAYERS = ("frontend.dsl.run_query", "frontend.result_json.to_result_json")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, its Python workers and the engine write
    inside `work`, and let worker processes import the engine from any
    working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_spark(work: str):
    from esper_tv_spark import get_spark

    java_opts = " ".join([
        # the whole heap committed from the start: G1 otherwise grows it
        # when its GC-time share rises, so peak memory would follow CPU
        # contention on a shared host rather than the work done
        f"-Xms{DRIVER_MEMORY}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "-XX:-UsePerfData",
    ])
    spark = get_spark(
        "perfbench",
        cpus=cpus(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop streams, the context and the JVM, and wait for the JVM (whose
    children are the Python workers) to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every orphaned descendant (a Linux
    child subreaper): a process whose parent exits first — the JVM's Python
    workers, a helper's children — is then still ours for `end_children`."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(")") + 2:].split()[1]) == me:
            kids.append(int(pid))
    return kids


def end_children(grace_s: float = 10.0) -> None:
    """Terminate every child process still there (adopted orphans
    included), kill those that outlive `grace_s`, and reap each, so none
    outlives this process."""
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while kids := _children():
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python
    process."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return {
        "jvm": _vm_hwm_mb(jvm_pid),
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


def source_version() -> str:
    """The git commit when run from a clone, else a digest of the engine
    sources (a benchmark checkout is a plain file tree)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for base in ("esper_tv_spark", "__spark_entry__.py"):
        top = os.path.join(ROOT, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".py")
        )
        for p in paths:
            with open(p, "rb") as f:
                h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) CPU ticks of this machine so far, from
    /proc/stat.  Steal is time a runnable CPU waited while the hypervisor
    ran other guests."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = t
    return user + nice + system + irq + softirq, steal, sum(t)


def steal_share(since: tuple[int, int, int]) -> float:
    """Share of all CPU ticks since `since` (a `cpu_ticks()`) that were
    stolen: flags a run taken in a noisy window."""
    _, steal, total = cpu_ticks()
    return (steal - since[1]) / max(1, total - since[2])


def run_share(since: tuple[int, int, int], now: "tuple[int, int, int] | None" = None) -> float:
    """Of the CPU time runnable threads wanted between the `cpu_ticks()`
    readings `since` and `now` (default: now), the share they got:
    busy / (busy + stolen).  1.0 on a host that steals nothing; a wall
    time times this share estimates it on such a host."""
    busy, steal, _ = now or cpu_ticks()
    b, s = busy - since[0], steal - since[1]
    return b / (b + s) if b + s > 0 else 1.0


def environment(spark, seed: int) -> dict:
    return {
        "nproc": cpus(),
        "load1": os.getloadavg()[0],
        "spark_version": spark.version,
        "python": sys.version.split()[0],
        "source": source_version(),
        "seed": seed,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def timed_op(tracer, req: int, name: str, family: str, layers: tuple[str, str], compile_fn, result_fn):
    """Run one operation as two layer calls — build the DataFrame, then
    materialize it — each in its own span.  A raised exception marks the
    op failed (counted, never fatal).  Returns (Op, result or None)."""
    from esper_tv_spark.plans.introspect import count_shuffles

    op = Op(name, family, 0.0, 0.0)
    result = None
    ticks = cpu_ticks()
    with tracer.span(f"op.{name}", req=req) as root:
        try:
            with tracer.span(layers[0]) as c:
                df = compile_fn()
            with tracer.span(layers[1]) as r:
                result = result_fn(df)
            op.exchanges = tracer.note(lambda: count_shuffles(df)) or 0
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            op.ok = False
            traceback.print_exc(limit=3, file=sys.stderr)
    op.compile_ms = c.ms if c.end else 0.0
    op.result_ms = r.ms if op.ok else 0.0
    op.self_ms = root.ms - op.compile_ms - op.result_ms
    op.run_share = run_share(ticks)
    if tracer.enabled:
        op.jobs, op.tasks, op.tasks_failed = tracer.subtree_counts(root)
    return op, result


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out
