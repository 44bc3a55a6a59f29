"""analytics: one sequential caller running ENTRIES, a fixed subset of the
``bench.py`` HEADLINE registry entries plus one streaming entry, each
computed in full through the ``noop`` sink (never ``count()``, which
Catalyst prunes).  An untimed first lap collects every entry and compares it
with its ``registry.ORACLES`` DuckDB oracle; timed laps follow until the
run's seconds are used.  Each entry's time is the median of its laps, so a
burst of host load that slows one lap moves the result little."""

from __future__ import annotations

import hashlib
import math
import os
import time

from perfbench import gen, stats, trace
from perfbench.harness import Context, Outcome

SF = 0.05
# Six of the 31 HEADLINE entries, so that a run fits the benchmark's time
# budget: one from each of three operators families that do executor work
# (aggregates, joins, windows) and one from each ops family behind the
# Python/Arrow boundary (dedup, similarity, text).  Within a family the
# entry with the smaller result is taken, since the untimed check hashes
# every row; dedup_minhash_lsh is left out because its DuckDB oracle alone
# takes ~30 s at sf0.1.  The last entry, from the registry's streaming
# family, replays ``events`` through a ``Stream`` with a ZeroOrMany
# ``ExpressionTransform`` and its DLQ by ``run_file_stream``, so the
# ``streaming`` layer is timed here too.
STREAMING = "streaming_zero_or_many_transform"
ENTRIES = (
    "agg_pricing_summary",
    "join_star_multi",
    "window_row_number_topk",
    "dedup_exact",
    "similarity_ivf",
    "text_lang_id",
    STREAMING,
)
PROGRESS_PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")


def _norm(v):
    import numpy as np

    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return tuple(_norm(x) for x in v.tolist())
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def result_hash(pdf) -> str:
    """Hash of a result independent of column and row order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def _oracle_pass(ctx: Context, data: str, names: tuple[str, ...], outcome: Outcome) -> None:
    import duckdb

    from moosestack_spark import registry
    from moosestack_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = os.path.join(data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            t0 = time.perf_counter()
            pdf = registry.QUERIES[name](ctx.spark, data).toPandas()
            ctx.notes.setdefault("first_s", {})[name] = time.perf_counter() - t0
            oracle = registry.ORACLES.get(name)
            if oracle is None:
                outcome.check(len(pdf) > 0, f"analytics {name}: no rows")
            else:
                want = con.execute(oracle).df()
                same = result_hash(pdf) == result_hash(want)
                outcome.check(same, f"analytics {name}: differs from its oracle")
    finally:
        con.close()


def run(ctx: Context, outcome: Outcome) -> None:
    from moosestack_spark import registry

    registry.load_all()
    data = ctx.dir("analytics", "data")
    gen.write_dataset(ctx.seed, SF, data)
    spark = ctx.spark
    sc = spark.sparkContext
    progress: list[dict] = []
    spark.streams.addListener(trace.progress_listener(progress))
    if ctx.traced:
        _install_spans(ctx)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    _oracle_pass(ctx, data, ENTRIES, outcome)  # also the first, cold lap
    # an untimed second lap: after the cold one the JIT is still compiling,
    # and the lap's CPU and time follow how far it has got
    for name in ENTRIES:
        noop(registry.QUERIES[name](spark, data))
    trace.await_progress(progress, 2)
    warm_ids = {p["id"] for p in progress}

    times: dict[str, list[float]] = {name: [] for name in ENTRIES}
    phases: list[dict] = []
    cpu0 = ctx.begin_timed()
    deadline = time.perf_counter() + ctx.seconds
    lap_cpu = [cpu0[0]]
    n = 0  # entry runs so far; entry i of lap k is run k * len(ENTRIES) + i
    # whole laps until the seconds are used; a traced run traces every
    # second entry and the other half on the next lap, so it runs two laps
    # at least
    min_runs = (2 if ctx.traced else 1) * len(ENTRIES)
    while n < min_runs or time.perf_counter() < deadline or n % len(ENTRIES):
        lap, i = divmod(n, len(ENTRIES))
        name = ENTRIES[i]
        traced = _traced(ctx, lap, i)
        sc.setLocalProperty("perfbench.entry", f"{lap}:{name}" if traced else None)
        ctx.notes["entry"] = (f"{lap}:{name}", traced)
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, data)
        t1 = time.perf_counter()
        if traced:
            df._jdf.queryExecution().executedPlan()  # plan once, to read the tracker
            t2 = time.perf_counter()
            phases.append({"entry": name, "build_s": t1 - t0, **trace.catalyst_phases(df)})
        else:
            t2 = t1
        noop(df)
        t3 = time.perf_counter()
        times[name].append(t3 - t0)
        if traced:
            phases[-1]["exec_s"] = t3 - t2
        n += 1
        if n % len(ENTRIES) == 0:
            lap_cpu.append(ctx.cpu_s()[0])
    cpu1 = ctx.cpu_s()
    cpu, jit = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    sc.setLocalProperty("perfbench.entry", None)
    outcome.attempted += n
    streamed = len(times[STREAMING])
    trace.await_progress(progress, len(warm_ids) + streamed)
    batches = [p for p in progress if p["rows"] > 0 and p["id"] not in warm_ids]
    outcome.check(len(batches) == streamed, f"analytics: {len(batches)} micro-batches")
    entry_s = {name: stats.median(ts) for name, ts in times.items()}
    total = sum(entry_s.values())
    outcome.e2e = {"cpu_ms_per_op": cpu * 1e3 / n}
    outcome.named = {
        "analytics_total_s": total,
        "analytics_entries_per_s": len(ENTRIES) / total,
        "analytics_entry_p50_ms": stats.median(list(entry_s.values())) * 1e3,
        "analytics_runs": n,
        "analytics_entries": len(ENTRIES),
        "analytics_entry_s": entry_s,
        "analytics_first_s": ctx.notes["first_s"],  # the checked cold lap
        "analytics_cpu_ms_per_entry": outcome.e2e["cpu_ms_per_op"],
        "analytics_lap_cpu_ms_per_entry": [
            (b - a) * 1e3 / len(ENTRIES) for a, b in zip(lap_cpu, lap_cpu[1:])
        ],
        "analytics_jit_ms_per_entry": jit * 1e3 / n,
    }
    ctx.notes.update(times=times, phases=phases, progress=batches, entry_s=entry_s)


def _install_spans(ctx: Context) -> None:
    """Span the streaming entry's micro-batches.  ``foreachBatch`` calls
    back on another Python thread, so the entry being run is passed on
    through ``ctx.notes``."""
    from moosestack_spark.streaming.stream import Stream

    tr = ctx.tracer
    ctx.notes["entry"] = ("warmup", False)

    def make(orig):
        def process_batch(stream, df):
            tr.set_request(*ctx.notes["entry"])
            return tr.span("streaming.process_batch", orig, stream, df)

        return process_batch

    tr.patch(Stream, "process_batch", make)


def _traced(ctx: Context, lap: int, i: int) -> bool:
    return ctx.traced and (lap + i) % 2 == 1


def layers(ctx: Context, outcome: Outcome, log: trace.EventLog) -> None:
    """Per-lap figures: each entry's traced runs are averaged, and a lap is
    the sum over the entries."""
    notes = ctx.notes
    lay = outcome.layers
    by_entry: dict[str, list[dict]] = {name: [] for name in ENTRIES}
    for p in notes["phases"]:
        by_entry[p["entry"]].append(p)

    def per_lap(value) -> float:
        return sum(sum(value(p) for p in ps) / len(ps) for ps in by_entry.values())

    lay["analytics.build_s"] = per_lap(lambda p: p["build_s"])
    catalyst_ms = per_lap(lambda p: p["analysis"] + p["optimization"] + p["planning"])
    lay["analytics.catalyst_s"] = catalyst_ms / 1e3
    lay["analytics.exec_s"] = per_lap(lambda p: p["exec_s"])
    keys = (
        "exec_run_s",
        "exec_cpu_s",
        "gc_s",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "jobs",
        "stages",
        "tasks",
        "py_to_worker",
        "py_from_worker",
    )
    lap = dict.fromkeys(keys, 0.0)
    for name, ps in by_entry.items():
        tot = trace.job_totals(log, lambda p: p.get("perfbench.entry", ":").split(":")[1] == name)
        for key in keys:
            lap[key] += tot[key] / len(ps)
    for key in keys[:-2]:
        lay[f"analytics.spark.{key}"] = lap[key]
    lay["analytics.python.bytes_to_worker"] = lap["py_to_worker"]
    lay["analytics.python.bytes_from_worker"] = lap["py_from_worker"]
    samples = [
        (name, _traced(ctx, k, ENTRIES.index(name)), t)
        for name, ts in notes["times"].items()
        for k, t in enumerate(ts)
    ]
    for name in ENTRIES:
        untraced = [t for n, traced, t in samples if n == name and not traced]
        lay[f"analytics.query.{name}_s"] = stats.median(untraced)
    batches = notes["progress"]
    for phase in PROGRESS_PHASES:
        durations = [p["duration_ms"].get(phase, 0.0) for p in batches]
        lay[f"analytics.progress.{phase}_ms"] = stats.median(durations)
    process = [s.ms for s in ctx.tracer.named("streaming.process_batch") if s.request != "warmup"]
    lay["analytics.streaming.process_batch_ms"] = stats.median(process)
    lay["trace.overhead_pct.analytics"] = stats.tracing_cost_pct(samples)
    lay["trace.cpu_ms_per_op.analytics"] = outcome.e2e["cpu_ms_per_op"]
