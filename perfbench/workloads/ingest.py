"""ingest: a closed loop of JSON-array POSTs from two connections to
``MooseHttpServer`` ``/ingest/events`` with Bearer API-key auth, backed by an
``IngestPipeline`` over the ``Event`` model (MergeTree table + DLQ).  The
table starts empty and grows during the run.  Request sizes, poison rows and
truncated bodies come from ``gen.ingest_requests``.
"""

from __future__ import annotations

import json
import os

from perfbench import gen, stats, trace
from perfbench.harness import Context, Outcome
from perfbench.workloads import _http
from perfbench.workloads.models import Event, constructions

N_SOURCE_EVENTS = 100_000
ROUTES = ["/ingest/events", "/ingest/events"]  # one per connection
BLOCK = len(gen.BLOCK_SIZES)
MIN_BLOCKS = 2  # >= 20 requests: ten beyond the median
MAX_BLOCKS = 40


class Server:
    """The load route plus a warm-up route on one server."""

    def __init__(self, ctx: Context):
        from moosestack_spark.catalog.engines import OlapConfig
        from moosestack_spark.http_server import MooseHttpServer
        from moosestack_spark.pipeline import IngestPipeline

        wh = ctx.dir("ingest", "wh")
        cfg = lambda: OlapConfig(order_by_fields=("event_id",))  # noqa: E731
        self.pipes = {
            name: IngestPipeline(name, Event, ctx.spark, wh, table_config=cfg())
            for name in ("events", "events_warm")
        }
        self.http = MooseHttpServer(ctx.spark, api_key=_http.TOKEN)
        for p in self.pipes.values():
            self.http.add_pipeline(p)
        self.port = self.http.start()



def run(ctx: Context, outcome: Outcome) -> None:
    events = gen.events_table(ctx.seed, N_SOURCE_EVENTS)
    requests = gen.ingest_requests(ctx.seed, MAX_BLOCKS, events)
    warm = gen.ingest_requests(ctx.seed + 1, 1, events)
    traced = _http.traced_half([str(r.rows) for r in requests]) if ctx.traced else set()
    tracing = _http.RequestTracing(ctx, {str(i) for i in traced}) if ctx.traced else None
    if tracing:
        _install_spans(ctx)

    server = Server(ctx)
    # untimed warm-up on its own route: a 10-row body and a truncated one
    for body in (warm[4].body, b'[{"event_id": 1}, {"trunc'):
        _http.send(server.port, "POST", "/ingest/events_warm", body)
    if tracing:
        tracing.measuring = True
    n0 = constructions()
    cpu0 = ctx.begin_timed()
    wire = [{"method": "POST", "path": "", "body": r.body.decode()} for r in requests]
    res = _http.load(ctx, server.port, ROUTES, wire, BLOCK, MIN_BLOCKS)
    cpu1 = ctx.cpu_s()
    n_models = constructions() - n0
    server.http.stop()
    records = res["records"]
    _check(server, requests, records, outcome)

    lat = _http.latencies_ms(records)
    acked = lambda r: len(requests[r["i"]].valid_ids) if r["status"] == 200 else 0  # noqa: E731
    rows = sum(acked(r) for r in records)
    rows_per_s = _http.rate(res, acked, BLOCK)
    outcome.e2e = {"cpu_ms_per_op": (cpu1[0] - cpu0[0]) * 1e3 / len(records)}
    outcome.named = {
        "ingest_cpu_ms_per_request": outcome.e2e["cpu_ms_per_op"],
        "ingest_jit_ms_per_request": (cpu1[1] - cpu0[1]) * 1e3 / len(records),
        "ingest_rows_per_s": rows_per_s,
        "ingest_requests": len(records),
    }
    outcome.named.update(stats.timing_summary("ingest", lat))
    ctx.notes.update(
        records=records,
        requests=requests,
        traced=traced,
        server=server,
        models=n_models,
        rows=rows,
    )


def _check(server: Server, requests, records, outcome: Outcome) -> None:
    """Every reply as expected; the table holds exactly the valid ids of
    the acknowledged requests, no loss and no duplicate; the DLQ holds the
    poison rows plus the rows salvaged from truncated bodies."""
    from pyspark.sql import functions as F

    want_ids: list[int] = []
    want_dlq = 0
    for rec in records:
        req = requests[rec["i"]]
        body = json.loads(rec["body"]) if rec["status"] in (200, 400) else {}
        if req.truncated:
            good = rec["status"] == 400 and body.get("dead_lettered") == req.dlq_rows
        else:
            good = rec["status"] == 200 and body == {
                "inserted": len(req.valid_ids),
                "dead_lettered": req.dlq_rows,
            }
        outcome.check(good, f"ingest request {rec['i']}: {rec['status']} {rec['body'][:200]}")
        if good:
            want_ids += req.valid_ids
            want_dlq += req.dlq_rows
    pipe = server.pipes["events"]
    ids = [r[0] for r in pipe.table.read().select("event_id").collect()]
    outcome.check(
        sorted(ids) == sorted(want_ids),
        f"ingest table: {len(ids)} rows ({len(set(ids))} distinct), "
        f"expected {len(want_ids)} acknowledged ids ({len(set(want_ids) - set(ids))} missing)",
    )
    n_dlq = pipe.read_dlq().agg(F.count(F.lit(1))).first()[0]
    outcome.check(n_dlq == want_dlq, f"ingest DLQ: {n_dlq} rows, expected {want_dlq}")


# -- traced run -------------------------------------------------------------------


def _install_spans(ctx: Context) -> None:
    from moosestack_spark.catalog.table import OlapTable
    from moosestack_spark.pipeline import IngestPipeline

    tr = ctx.tracer
    tr.wrap(IngestPipeline, "ingest", "pipeline.ingest")
    tr.wrap(IngestPipeline, "dead_letter", "pipeline.dead_letter")
    tr.wrap(OlapTable, "insert", "catalog.insert")
    tr.wrap(type(ctx.spark), "createDataFrame", "spark.create_df")
    tr.wrap(type(ctx.spark.range(1).write), "parquet", "spark.parquet")


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def layers(ctx: Context, outcome: Outcome, log: trace.EventLog) -> None:
    tr = ctx.tracer
    notes = ctx.notes
    records = notes["records"]
    lay = outcome.layers
    by_id = {s.sid: s for s in tr.spans}
    client = {str(r["i"]): (r["end"] - r["start"]) * 1e3 for r in records}
    roots = [
        s
        for s in tr.spans
        if s.parent is None and s.name in ("pipeline.ingest", "pipeline.dead_letter")
        and s.request in client
    ]
    lay["ingest.http_server.self_ms"] = stats.median([client[s.request] - s.ms for s in roots])
    lay["ingest.pipeline.self_ms"] = stats.median(tr.self_ms("pipeline.ingest"))
    lay["ingest.catalog.insert_self_ms"] = stats.median(tr.self_ms("catalog.insert"))
    lay["ingest.spark.create_df_ms"] = stats.median([s.ms for s in tr.named("spark.create_df")])

    def writes(parent: str) -> list[float]:
        return [
            s.ms
            for s in tr.named("spark.parquet")
            if s.parent is not None and by_id[s.parent].name == parent
        ]

    # OlapTable.insert writes through _append_df; the pipeline's DLQ write
    # is its own call to DataFrameWriter.parquet
    lay["ingest.spark.table_write_ms"] = stats.median(writes("catalog.insert"))
    dlq_writes = writes("pipeline.ingest") + writes("pipeline.dead_letter")
    lay["ingest.spark.dlq_write_ms"] = stats.median(dlq_writes)
    n = max(len(records), 1)
    tot = trace.job_totals(log, lambda p: p.get("perfbench.request") is not None)
    lay["ingest.spark.jobs_per_request"] = tot["jobs"] / n
    lay["ingest.spark.exec_cpu_ms_per_request"] = tot["exec_cpu_s"] * 1e3 / n
    lay["ingest.spark.gc_ms_per_request"] = tot["gc_s"] * 1e3 / n
    pipes = notes["server"].pipes
    files = sum(
        _parquet_files(p.table.path) + _parquet_files(p.dlq_path)
        for name, p in pipes.items()
        if name != "events_warm"
    )
    lay["ingest.catalog.files_per_request"] = files / n
    lay["ingest.datamodel.validations_per_row"] = notes["models"] / max(notes["rows"], 1)
    reqs, traced = notes["requests"], notes["traced"]
    lay["trace.overhead_pct.ingest"] = stats.tracing_cost_pct(
        [(str(reqs[r["i"]].rows), r["i"] in traced, r["end"] - r["start"]) for r in records]
    )
    lay["trace.cpu_ms_per_op.ingest"] = outcome.e2e["cpu_ms_per_op"]
