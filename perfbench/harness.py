"""Run one workload: pin the environment, start the session, let the
workload set up, load and check, then assemble the result lines."""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from perfbench import trace

# End-to-end metrics every workload reports, in BENCHMARK.json order.
E2E_UNITS = {
    "cpu_ms_per_op": "ms",
    "setup_s": "s",
}


@dataclass
class Outcome:
    """What a workload hands back to the harness."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)  # cpu_ms_per_op
    named: dict[str, Any] = field(default_factory=dict)  # metric names of the workload
    layers: dict[str, float] = field(default_factory=dict)  # per-layer metrics (traced run)

    def check(self, ok: bool, what: str) -> None:
        """Record one output check; a mismatch counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


@dataclass
class Context:
    spark: Any
    seed: int
    seconds: float
    traced: bool
    work: str  # scratch directory inside the checkout
    tracer: trace.Tracer
    t_start: float  # process start, time.perf_counter()
    setup_s: float = 0.0  # process start to the first timed operation
    notes: dict = field(default_factory=dict)  # run() -> layers() hand-over

    def path(self, *parts: str) -> str:
        """A file path under the run's scratch directory (parents made)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A fresh directory under the run's scratch directory."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p)
        return p

    def begin_timed(self) -> tuple[float, float]:
        """End set-up: everything before this call counts towards
        ``setup_s``.  Returns ``cpu_s()`` at this point."""
        self.setup_s = time.perf_counter() - self.t_start
        return self.cpu_s()

    def cpu_s(self) -> tuple[float, float]:
        """(engine, JIT) CPU seconds used so far.  The engine is this
        process (the HTTP server runs in it; the load generator does not
        count) and the session's JVM with the Python workers below it,
        less the JVM's JIT compiler threads, which are the second figure."""
        me = os.times()
        pid = jvm_pid(self.spark)
        jit = jit_cpu_s(pid)
        return me.user + me.system + tree_cpu_s(pid) - jit, jit


def pin_env(root: str, work: str) -> dict[str, Any]:
    """Fix the engine's resources and keep every file the run writes inside
    the checkout.  Returns what the result records."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the 24g default exceeds a 16 GB host
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    load1, load5, _ = os.getloadavg()
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "nproc": cpus,
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(local, root),
        "loadavg_1m": load1,
        "loadavg_5m": load5,
    }


def session_conf(work: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(trace.eventlog_conf(os.path.join(work, "eventlog")))
    return conf


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and its descendants,
    with the children each of them has already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid in ticks:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks[pid]
    return total / tick


def jit_cpu_s(pid: int) -> float:
    """User + system CPU seconds of the JVM's JIT compiler threads.  The
    session starts them all at once and keeps them
    (-XX:-UseDynamicNumberOfCompilerThreads), so none is missed."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat[stat.rindex(")") + 2 :].split()
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the session's JVM."""
    me = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return me + _rss_mb(jvm_pid(spark))


def stop_jvm(timeout: float = 60.0) -> None:
    """Close the JVM's stdin, on which it exits, and wait until it has."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    # py4j's shutdown can block on a callback connection (the streaming
    # listener's), so it gets a bounded wait; the JVM exits either way
    closing = threading.Thread(target=gateway.shutdown, daemon=True)
    closing.start()
    closing.join(10.0)
    proc.stdin.close()
    proc.wait(timeout)


def watchdog(limit_s: float) -> threading.Timer:
    """After ``limit_s`` seconds, kill the session's JVM (its Python
    workers exit with it) and exit with code 3, printing no result."""

    def fire() -> None:
        from pyspark import SparkContext

        print(f"perfbench: no result after {limit_s:.0f} s, giving up", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(10)
        os._exit(3)

    timer = threading.Timer(limit_s, fire)
    timer.daemon = True
    timer.start()
    return timer


def run(root: str, workload: str, seed: int, seconds: float, traced: bool, t_start: float) -> int:
    from importlib import import_module

    watchdog(max(170.0, seconds + 120.0) - (time.perf_counter() - t_start))
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_env(root, work)
    ticks0 = cpu_ticks()
    module = import_module(f"perfbench.workloads.{workload}")
    from moosestack_spark.session import get_spark

    try:
        spark = get_spark(f"perfbench-{workload}", **session_conf(work, traced))
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, seed, seconds, traced, work, trace.Tracer(), t_start)
        t_session = time.perf_counter() - t_start
        outcome = Outcome()
        try:
            module.run(ctx, outcome)
            rss = peak_rss_mb(spark)
        finally:
            ctx.tracer.restore()
            spark.stop()
            stop_jvm()
        if traced:
            # kept after the run's scratch directory is removed
            ctx.tracer.dump(os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.jsonl"))
            module.layers(ctx, outcome, trace.read_event_log(os.path.join(work, "eventlog")))
            for name in listed_layers(root):
                if owner(name) == workload:
                    outcome.check(name in outcome.layers, f"traced run did not measure {name}")
                else:  # another workload's layer, never entered by this one
                    outcome.layers.setdefault(name, 0.0)
        ticks1 = cpu_ticks()
        env["steal_pct"] = 100.0 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        report, final = _result(workload, seed, seconds, traced, env, ctx, outcome, t_session, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


def _result(
    workload, seed, seconds, traced, env, ctx, outcome, t_session, rss
) -> tuple[dict, dict]:
    setup_s = ctx.setup_s
    e2e = {**outcome.e2e, "setup_s": setup_s}
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "env": env,
        "setup": {"session_s": t_session, "workload_s": setup_s - t_session},
        "metrics": {
            **outcome.named,
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "failed_share": outcome.failed / max(outcome.attempted, 1),
        },
        "errors": outcome.errors[:20],
    }
    if traced:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(outcome.layers.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    final = {
        "correct": outcome.failed == 0,
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed,
        "metrics": metrics,
    }
    return report, final


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from its name."""
    if "_pct" in name:
        return "%"
    if "_ms" in name:
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_row"):
        return "ratio"
    return "count"


def owner(name: str) -> str:
    """The workload a per-layer metric belongs to: its first name part
    (``serve.api.call_ms``) or, for the ``trace.`` metrics, its last."""
    head, _, rest = name.partition(".")
    return rest.rsplit(".", 1)[-1] if head == "trace" else head


def listed_layers(root: str) -> list[str]:
    """The per-layer metrics BENCHMARK.json lists.  A traced run reports
    each of them: its own workload's as measured (a missing one fails the
    run), other workloads' as 0."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except FileNotFoundError:
        return []
    return [m["name"] for m in spec["per_layer"]]
