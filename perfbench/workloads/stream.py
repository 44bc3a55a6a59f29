"""stream: seeded parquet files of ``events`` (with poison rows) replayed
through ``run_file_stream`` (AvailableNow, one file per trigger) into a
``Stream`` with an expression edge (``clean``), a record edge (``typed``) and
a consumer folding each micro-batch into a checkpointed
``IncrementalAggregateView``.  Replays repeat, each into fresh outputs,
until the run's seconds are used and at least MIN_BATCHES micro-batches ran.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import gen, stats, trace
from perfbench.harness import Context, Outcome

N_EVENTS = 12_500
N_FILES = 5
MIN_BATCHES = 5
PROGRESS_PHASES = (
    "addBatch",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "queryPlanning",
    "getBatch",
)


def _typed(rec: dict):
    """ZeroOrMany: raise on k % 97 == 0, drop on k % 10 == 1, else map."""
    k = json.loads(rec["props"])["k"]
    if k % 97 == 0:
        raise ValueError(f"unparseable props k={k}")
    if k % 10 == 1:
        return None
    return {"event_id": rec["event_id"], "event_type": rec["event_type"], "k": k}


def source_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


class Replay:
    """A source directory and the stream graph replayed over it; each
    ``run_once`` writes to fresh outputs next to the source."""

    def __init__(self, ctx: Context, src: str):
        self.ctx = ctx
        self.src = src
        self.schema = source_schema()
        self.n = 0

    def run_once(self) -> tuple[str, object]:
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from moosestack_spark.catalog.materialized_view import AggSpec, IncrementalAggregateView
        from moosestack_spark.streaming.runner import run_file_stream
        from moosestack_spark.streaming.stream import ExpressionTransform, RecordTransform, Stream

        self.n += 1
        out = f"{self.src}-out{self.n}"
        mv = IncrementalAggregateView(
            ["event_type", "day"],
            [AggSpec("n", "count"), AggSpec("total", "sum", F.col("value"))],
        )
        folds = [0]

        def fold(batch) -> None:
            folds[0] += 1
            mv.refresh(batch.withColumn("day", F.to_date("ts")))
            # a fresh path per fold: the state being read cannot be overwritten
            mv.checkpoint(os.path.join(out, "mv", f"v{folds[0]}"))

        stream = Stream("events", schema=self.schema)
        stream.add_transform(
            "clean",
            ExpressionTransform(
                apply=lambda df: df.select("event_id", "ts", "event_type", "value"),
                poison_when=F.col("value") < 0,
                error_message="negative value",
            ),
        )
        typed_schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("event_type", StringType()),
                StructField("k", LongType()),
            ]
        )
        stream.add_transform("typed", RecordTransform(fn=_typed, output_schema=typed_schema))
        stream.add_consumer(fold)
        ckpt = os.path.join(out, "_checkpoint")
        run_file_stream(self.ctx.spark, self.src, self.schema, stream, out, checkpoint_dir=ckpt)
        return out, mv

    def check(self, out: str, mv, expected: dict, outcome: Outcome) -> None:
        """Destination and DLQ counts against the generator's, MV totals
        against a direct aggregate of the source."""
        from pyspark.sql import functions as F

        from moosestack_spark.streaming.dlq import DLQ_SCHEMA

        spark = self.ctx.spark
        for key in ("clean", "typed", "clean_dlq", "typed_dlq"):
            path = os.path.join(out, key.replace("_dlq", "__dlq"))
            reader = spark.read.schema(DLQ_SCHEMA) if key.endswith("dlq") else spark.read
            n = reader.parquet(path).count()
            outcome.check(n == expected[key], f"stream {key}: {n} rows, expected {expected[key]}")
        direct = (
            spark.read.schema(self.schema)
            .parquet(self.src)
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(25,4)")).alias("total"),
            )
        )
        want = sorted((r.event_type, str(r.day), r.n, str(r.total)) for r in direct.collect())
        have = sorted(
            (r.event_type, str(r.day), r.n, str(r.total))
            for r in mv.state.select("event_type", "day", "n", "total").collect()
        )
        outcome.check(want == have, "stream MV totals differ from the direct aggregate")


class BatchTracing:
    """Traced run: spans around the per-batch layer calls.  Micro-batches
    alternate traced / untraced, starting with the other parity on each
    replay, so the tracing overhead shows within the run; every batch's
    jobs carry ``perfbench.batch`` for the event log."""

    def __init__(self, ctx: Context):
        from moosestack_spark.catalog.materialized_view import IncrementalAggregateView
        from moosestack_spark.streaming.stream import Stream

        self.measuring = False
        self.traced: list[bool] = []  # per measured batch, in batch order
        tr = ctx.tracer
        sc = ctx.spark.sparkContext

        def make(orig):
            def process_batch(stream, df):
                n = len(self.traced)
                on = self.measuring and (n % N_FILES + n // N_FILES) % 2 == 1
                tag = f"b{len(self.traced)}" if self.measuring else "warmup"
                if self.measuring:
                    self.traced.append(on)
                sc.setLocalProperty("perfbench.batch", tag)
                tr.set_request(tag, on)
                return tr.span("streaming.process_batch", orig, stream, df)

            return process_batch

        tr.patch(Stream, "process_batch", make)
        tr.wrap(type(ctx.spark.range(1).write), "parquet", "spark.parquet")
        tr.wrap(IncrementalAggregateView, "refresh", "catalog.mv_refresh")
        tr.wrap(IncrementalAggregateView, "checkpoint", "catalog.mv_checkpoint")


def run(ctx: Context, outcome: Outcome) -> None:
    progress: list[dict] = []
    ctx.spark.streams.addListener(trace.progress_listener(progress))
    events = gen.events_table(ctx.seed, N_EVENTS)
    tracing = BatchTracing(ctx) if ctx.traced else None

    src = ctx.dir("stream", "src")
    expected = gen.stream_files(ctx.seed, events, N_FILES, src)
    # untimed warm-up through the whole graph: two micro-batches, since the
    # second takes the view's merge path, compiled on first use
    warm = ctx.dir("stream", "warm")
    gen.stream_files(ctx.seed, events.slice(0, 2000), 2, warm)
    Replay(ctx, warm).run_once()
    replay = Replay(ctx, src)
    trace.await_progress(progress, 2)
    warm_ids = {p["id"] for p in progress}
    if tracing:
        tracing.measuring = True
    wall = 0.0
    done: list[tuple[str, object]] = []
    cpu0 = ctx.begin_timed()
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or len(done) * N_FILES < MIN_BATCHES:
        t0 = time.perf_counter()
        done.append(replay.run_once())
        wall += time.perf_counter() - t0
    cpu1 = ctx.cpu_s()
    trace.await_progress(progress, 2 + N_FILES * len(done))
    batches = [p for p in progress if p["rows"] > 0 and p["id"] not in warm_ids]
    outcome.attempted += len(batches)
    outcome.check(
        len(batches) == N_FILES * len(done), f"stream: {len(batches)} non-empty micro-batches"
    )
    for out, mv in done:
        replay.check(out, mv, expected, outcome)
    trig = [p["duration_ms"]["triggerExecution"] for p in batches]
    rows = expected["rows"] * len(done)
    ctx.notes.update(progress=batches, rows=rows, tracing=tracing)
    outcome.e2e = {"cpu_ms_per_op": (cpu1[0] - cpu0[0]) * 1e3 / len(batches)}
    outcome.named = {
        "stream_cpu_ms_per_batch": outcome.e2e["cpu_ms_per_op"],
        "stream_jit_ms_per_batch": (cpu1[1] - cpu0[1]) * 1e3 / len(batches),
        "stream_rows_per_s": rows / wall,
        "stream_replays": len(done),
        "stream_batch_ms": trig,
    }
    outcome.named.update(stats.timing_summary("stream_batch", trig))


def layers(ctx: Context, outcome: Outcome, log: trace.EventLog) -> None:
    tr = ctx.tracer
    batches = ctx.notes["progress"]
    lay = outcome.layers
    for phase in PROGRESS_PHASES:
        durations = [p["duration_ms"].get(phase, 0.0) for p in batches]
        lay[f"stream.progress.{phase}_ms"] = stats.median(durations)
    per_batch: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        if s.request and s.request != "warmup":
            acc = per_batch.setdefault(s.request, {"dest": 0.0, "mv": 0.0})
            if s.name == "spark.parquet" and s.parent is None:
                acc["dest"] += s.ms
            elif s.name in ("catalog.mv_refresh", "catalog.mv_checkpoint"):
                acc["mv"] += s.ms
    process = [s.ms for s in tr.named("streaming.process_batch")]
    lay["stream.streaming.process_batch_ms"] = stats.median(process)
    lay["stream.spark.dest_write_ms"] = stats.median([b["dest"] for b in per_batch.values()])
    lay["stream.catalog.mv_refresh_ms"] = stats.median([b["mv"] for b in per_batch.values()])
    n = max(len(batches), 1)
    tot = trace.job_totals(log, lambda p: p.get("perfbench.batch", "warmup") != "warmup")
    lay["stream.spark.jobs_per_batch"] = tot["jobs"] / n
    lay["stream.spark.source_reads_per_row"] = tot["records_read"] / ctx.notes["rows"]
    lay["stream.spark.exec_cpu_ms_per_batch"] = tot["exec_cpu_s"] * 1e3 / n
    lay["stream.spark.gc_ms_per_batch"] = tot["gc_s"] * 1e3 / n
    lay["stream.python.bytes_to_worker_per_batch"] = tot["py_to_worker"] / n
    # overhead on rows per second; all batches are the same size.  The
    # first batch of a replay (the view's first fold, no merge) is left out.
    flags = ctx.notes["tracing"].traced
    trig = [p["duration_ms"]["triggerExecution"] / 1e3 for p in batches]
    lay["trace.overhead_pct.stream"] = stats.tracing_cost_pct(
        [("batch", f, t) for k, (t, f) in enumerate(zip(trig, flags)) if k % N_FILES]
    )
    lay["trace.cpu_ms_per_op.stream"] = outcome.e2e["cpu_ms_per_op"]
