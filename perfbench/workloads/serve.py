"""serve: a closed loop of GETs to ``MooseHttpServer`` ``/api/...`` over four
registered ``Api``s in a 40/30/20/10 mix:

- ``orders_by_segment``: a ``QueryModel`` over orders joined to customer,
  with date and segment filters, HAVING, ORDER BY and LIMIT;
- ``events_by_type``: a ``QueryModel`` over ``OlapTable.read()`` of a
  ReplacingMergeTree ``events`` table;
- ``daily_rollup``: reads an ``IncrementalAggregateView``;
- ``top_parts``: a ``sql`` template query with ClickHouse functions over
  lineitem joined to part.

Set-up builds ``events`` by posting INSERTS JSON batches, one after another,
to the server's ``/ingest/events`` route: an ``IngestPipeline`` whose
``OlapTable.insert`` writes the table, ~5% of ids re-sent.  So the table is
written by the same path as the ``ingest`` workload, and a traced run
measures that path's layers too.  Parameters follow a
seeded Zipf over 64 combinations.  Every reply is checked against DuckDB
over the same inputs, untimed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

from pydantic import BaseModel

from perfbench import gen, stats, trace
from perfbench.harness import Context, Outcome
from perfbench.workloads import _http
from perfbench.workloads.models import Event, constructions

SF = 0.1
INSERTS = 2
ROWS_PER_INSERT = 2000
RESEND = 200  # ids re-sent by each insert after the first (~5% of all rows)
BLOCK = len(gen.SERVE_MIX)
MIN_BLOCKS = 4  # 40 requests: ten beyond the p75
MAX_BLOCKS = 200
WARM_BLOCKS = 2


class SegmentParams(BaseModel):
    segment: str
    year: int


class TypeParams(BaseModel):
    event_type: str
    min_value: float


class RollupParams(BaseModel):
    day_from: dt.date
    days: int


class PartParams(BaseModel):
    part_type: str
    year: int


TOP_PARTS_CH = (
    "SELECT p_brand AS brand, uniqExact(l_orderkey) AS orders, "
    "countIf(l_returnflag = 'R') AS returns, "
    "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) "
    "AS revenue FROM lineitem JOIN part ON l_partkey = p_partkey WHERE toYear(l_shipdate) = ",
    " AND p_type = ",
    " GROUP BY p_brand ORDER BY revenue DESC, brand LIMIT 10",
)


def _insert_batches(seed: int, events) -> list[list[dict]]:
    """INSERTS batches of consecutive rows, each re-sending RESEND rows of
    earlier batches unchanged."""
    rng = gen.rng_for(seed, "serve-resend")
    batches: list[list[dict]] = []
    for k in range(INSERTS):
        rows = gen.event_rows(events, k * ROWS_PER_INSERT, ROWS_PER_INSERT)
        if k:
            again = rng.choice(k * ROWS_PER_INSERT, RESEND, replace=False)
            rows += [gen.event_rows(events, int(i), 1)[0] for i in again]
        batches.append(rows)
    return batches


class Backend:
    """The server, the ``events`` table posted through its ingest route, and
    the views and APIs over them."""

    def __init__(self, ctx: Context, data: str, batches: list[list[dict]]):
        from pyspark.sql import functions as F

        from moosestack_spark.api import Api, clear_apis
        from moosestack_spark.catalog.engines import OlapConfig, ReplacingMergeTree
        from moosestack_spark.catalog.materialized_view import AggSpec, IncrementalAggregateView
        from moosestack_spark.http_server import MooseHttpServer
        from moosestack_spark.pipeline import IngestPipeline
        from moosestack_spark.query_layer.model import Join, JoinColumn, QueryModel, QueryRequest
        from moosestack_spark.sql.ch_functions import translate_ch_sql
        from moosestack_spark.sql.template import val

        spark = ctx.spark
        self.http = MooseHttpServer(spark, api_key=_http.TOKEN)
        pipe = IngestPipeline(
            "events",
            Event,
            spark,
            ctx.dir("serve", "wh"),
            table_config=OlapConfig(order_by_fields=("event_id",), engine=ReplacingMergeTree()),
        )
        self.http.add_pipeline(pipe)
        self.port = self.http.start()
        self.steps: dict[str, float] = {}
        t0 = time.perf_counter()
        n0 = constructions()
        self.inserts = [
            _http.send(self.port, "POST", "/ingest/events", json.dumps(rows).encode(), f"insert{k}")
            for k, rows in enumerate(batches)
        ]
        self.models = constructions() - n0
        self.steps["inserts_s"] = time.perf_counter() - t0
        table = pipe.table
        tables = {
            n: spark.read.parquet(os.path.join(data, f"{n}.parquet"))
            for n in ("orders", "customer", "lineitem", "part")
        }
        for n in ("lineitem", "part"):
            tables[n].createOrReplaceTempView(n)
        mv = IncrementalAggregateView(
            ["day", "event_type"],
            [
                AggSpec("n", "count"),
                AggSpec("total", "sum", F.col("value")),
                AggSpec("top", "max", F.col("value")),
            ],
        )
        mv.populate(table.read().withColumn("day", F.to_date("ts")))
        mv.checkpoint(ctx.dir("serve", "daily_rollup"))
        self.steps["view_s"] = time.perf_counter() - t0 - self.steps["inserts_s"]

        orders = QueryModel(
            tables["orders"],
            dimensions={
                "priority": "o_orderpriority",
                "status": "o_orderstatus",
                "segment": JoinColumn("cust", "c_mktsegment"),
            },
            metrics={
                "orders": F.count(F.lit(1)),
                "revenue": F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
            },
            joins={"cust": Join(tables["customer"], "o_custkey", "c_custkey", how="inner")},
            sortable=["priority", "status", "orders", "revenue"],
        )

        def orders_by_segment(p: SegmentParams, utils):
            return orders.query(
                QueryRequest(
                    dimensions=["priority", "status"],
                    metrics=["orders", "revenue"],
                    filters=[
                        ("segment", "eq", p.segment),
                        ("o_orderdate", "gte", dt.date(p.year, 1, 1)),
                        ("o_orderdate", "lt", dt.date(p.year + 1, 1, 1)),
                        ("orders", "gt", 5),
                    ],
                    order_by=[("revenue", "desc"), "priority", "status"],
                    limit=10,
                )
            )

        def events_by_type(p: TypeParams, utils):
            model = QueryModel(
                table.read(),
                dimensions={"day": F.to_date("ts").cast("string"), "event_type": "event_type"},
                metrics={
                    "events": F.count(F.lit(1)),
                    "users": F.countDistinct("user_id"),
                    "total": F.sum(F.col("value").cast("decimal(18,2)")),
                },
            )
            return model.query(
                QueryRequest(
                    dimensions=["day"],
                    metrics=["events", "users", "total"],
                    filters=[("event_type", "eq", p.event_type), ("value", "gte", p.min_value)],
                    order_by=["day"],
                    limit=31,
                )
            )

        def daily_rollup(p: RollupParams, utils):
            end = p.day_from + dt.timedelta(days=p.days)
            return (
                mv.read()
                .filter((F.col("day") >= F.lit(p.day_from)) & (F.col("day") < F.lit(end)))
                .select(F.col("day").cast("string").alias("day"), "event_type", "n", "total", "top")
                .orderBy("day", "event_type")
            )

        head, mid, tail = (translate_ch_sql(t) for t in TOP_PARTS_CH)

        def top_parts(p: PartParams, utils):
            return utils.sql(head, p.year, mid, val(p.part_type), tail)

        clear_apis()
        Api("orders_by_segment", SegmentParams, orders_by_segment)
        Api("events_by_type", TypeParams, events_by_type)
        Api("daily_rollup", RollupParams, daily_rollup)
        Api("top_parts", PartParams, top_parts)


def _path(api: str, params: dict) -> str:
    from urllib.parse import urlencode

    return f"/{api}?{urlencode(params)}"


# -- expected answers ------------------------------------------------------------------

ORACLE = {
    "orders_by_segment": (
        "SELECT o_orderpriority AS priority, o_orderstatus AS status, count(*) AS orders, "
        "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = $segment AND o_orderdate >= make_date($year, 1, 1) "
        "AND o_orderdate < make_date($year + 1, 1, 1) GROUP BY 1, 2 HAVING count(*) > 5 "
        "ORDER BY revenue DESC, priority, status LIMIT 10"
    ),
    "events_by_type": (
        "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS events, "
        "count(DISTINCT user_id) AS users, "
        "sum(CAST(value AS DECIMAL(18,2))) AS total FROM events WHERE event_type = $event_type "
        "AND value >= $min_value GROUP BY 1 ORDER BY day LIMIT 31"
    ),
    "daily_rollup": (
        "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, count(*) AS n, "
        "sum(CAST(value AS DECIMAL(18,2))) AS total, max(value) AS top FROM events "
        "WHERE CAST(ts AS DATE) >= CAST($day_from AS DATE) "
        "AND CAST(ts AS DATE) < CAST($day_from AS DATE) + $days "
        "GROUP BY 1, 2 ORDER BY day, event_type"
    ),
    "top_parts": (
        "SELECT p_brand AS brand, count(DISTINCT l_orderkey) AS orders, "
        "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returns, "
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) "
        "AS revenue FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE year(l_shipdate) = $year AND p_type = $part_type "
        "GROUP BY p_brand ORDER BY revenue DESC, brand LIMIT 10"
    ),
}


DECIMAL_COLS = {"revenue", "total", "top"}  # JSON carries these as str or float


def _rows(rows: list[dict]) -> list[tuple]:
    """One spelling per value across the engines' JSON / Python types."""
    return [
        tuple(
            (k, str(Decimal(str(v)).quantize(Decimal("0.0001"))) if k in DECIMAL_COLS else str(v))
            for k, v in sorted(r.items())
        )
        for r in rows
    ]


def expected(data: str, keys: set[tuple[str, str]]) -> dict[tuple[str, str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for n in ("orders", "customer", "lineitem", "part", "events"):
            path = os.path.join(data, f"{n}.parquet")
            con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for api, params in keys:
            cur = con.execute(ORACLE[api], json.loads(params))
            cols = [d[0] for d in cur.description]
            out[(api, params)] = _rows([dict(zip(cols, r)) for r in cur.fetchall()])
        return out
    finally:
        con.close()


# -- the run ----------------------------------------------------------------------------


def run(ctx: Context, outcome: Outcome) -> None:
    import pyarrow.parquet as pq

    data = ctx.dir("serve", "data")
    gen.write_dataset(ctx.seed, SF, data, ("orders", "customer", "lineitem", "part"))
    events = gen.events_table(ctx.seed, INSERTS * ROWS_PER_INSERT)
    pq.write_table(events, os.path.join(data, "events.parquet"))  # what the table must hold
    batches = _insert_batches(ctx.seed, events)
    stream = gen.serve_requests(ctx.seed, WARM_BLOCKS + MAX_BLOCKS)
    warm, reqs = stream[: WARM_BLOCKS * BLOCK], stream[WARM_BLOCKS * BLOCK :]
    traced = _http.traced_half([api for api, _ in reqs]) if ctx.traced else set()
    if ctx.traced:
        # the first insert is the process's first write, still compiling;
        # the write-path spans come from the later ones
        inserts = {f"insert{k}" for k in range(1, INSERTS)}
        tracing = _http.RequestTracing(ctx, {str(i) for i in traced} | inserts)
        _install_spans(ctx)

    backend = Backend(ctx, data, batches)
    # untimed warm-up: the first WARM_BLOCKS of the request stream, at the
    # load's concurrency.  The first call of each API compiles its query
    # (1.5-2x slower than later ones), and GETs keep getting faster while
    # the JIT compiles and new parameters come in: after four warm-up calls
    # the first timed block still took 1.4x the fourth
    t0 = time.perf_counter()
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(lambda r: _http.send(backend.port, "GET", "/api" + _path(*r)), warm))
    backend.steps["warmup_s"] = time.perf_counter() - t0
    for k, (status, body) in enumerate(backend.inserts):
        want = {"inserted": len(batches[k]), "dead_lettered": 0}
        good = status == 200 and json.loads(body) == want
        outcome.check(good, f"serve insert {k}: {status} {body[:300]}")
    if ctx.traced:
        tracing.measuring = True
    wire = [{"method": "GET", "path": _path(api, p), "body": None} for api, p in reqs]
    cpu0 = ctx.begin_timed()
    res = _http.load(ctx, backend.port, ["/api", "/api"], wire, BLOCK, MIN_BLOCKS)
    cpu1 = ctx.cpu_s()
    cpu, jit = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    records = res["records"]
    _check(data, reqs, records, outcome)
    backend.http.stop()

    lat = _http.latencies_ms(records)
    qps = _http.rate(res, lambda r: 1.0, BLOCK)
    outcome.e2e = {"cpu_ms_per_op": cpu * 1e3 / len(records)}
    outcome.named = {
        "serve_qps": qps,
        "serve_requests": len(records),
        "serve_latency_ms": lat,
        "serve_cpu_ms_per_request": outcome.e2e["cpu_ms_per_op"],
        "serve_jit_ms_per_request": jit * 1e3 / len(records),
        "serve_setup_steps": backend.steps,
    }
    outcome.named.update(stats.timing_summary("serve", lat))
    ctx.notes.update(
        records=records,
        requests=reqs,
        traced=traced,
        models=backend.models,
        inserted=sum(len(b) for b in batches),
    )


def _check(data: str, reqs, records, outcome: Outcome) -> None:
    """Every reply equals DuckDB's answer for its (api, params)."""
    key = {r["i"]: (reqs[r["i"]][0], json.dumps(reqs[r["i"]][1], sort_keys=True)) for r in records}
    want = expected(data, set(key.values()))
    for rec in records:
        k = key[rec["i"]]
        got = _rows(json.loads(rec["body"])) if rec["status"] == 200 else None
        outcome.check(got == want[k], f"serve {k}: {rec['status']} {rec['body'][:300]}")


# -- traced run -----------------------------------------------------------------------


def _install_spans(ctx: Context) -> None:
    from moosestack_spark.api import Api
    from moosestack_spark.catalog.table import OlapTable
    from moosestack_spark.pipeline import IngestPipeline
    from moosestack_spark.query_layer.model import QueryModel
    from moosestack_spark.sql import template

    def collected(span, result, args) -> None:
        df = args[0]
        span.attrs.update(trace.catalyst_phases(df))
        span.attrs["files"] = len(df.inputFiles())

    tr = ctx.tracer
    tr.wrap(Api, "call_json", "api.call_json")
    tr.wrap(Api, "call", "api.call")
    tr.wrap(QueryModel, "query", "query_layer.query")
    tr.wrap(template, "run", "sql.run")
    tr.wrap(OlapTable, "read", "catalog.read")
    tr.wrap(type(ctx.spark.range(1)), "collect", "spark.collect", after=collected)
    # the set-up inserts
    tr.wrap(IngestPipeline, "ingest", "pipeline.ingest")
    tr.wrap(OlapTable, "insert", "catalog.insert")
    tr.wrap(type(ctx.spark), "createDataFrame", "spark.create_df")
    tr.wrap(type(ctx.spark.range(1).write), "parquet", "spark.parquet")


def layers(ctx: Context, outcome: Outcome, log: trace.EventLog) -> None:
    tr = ctx.tracer
    records = ctx.notes["records"]
    lay = outcome.layers
    client = {str(r["i"]): (r["end"] - r["start"]) * 1e3 for r in records}
    roots = [s for s in tr.named("api.call_json") if s.request in client]
    lay["serve.http_server.self_ms"] = stats.median([client[s.request] - s.ms for s in roots])

    def med(name: str) -> float:
        return stats.median([s.ms for s in tr.named(name) if s.request in client])

    lay["serve.api.call_ms"] = med("api.call")
    lay["serve.query_layer.query_ms"] = med("query_layer.query")
    lay["serve.sql.run_ms"] = med("sql.run")
    lay["serve.catalog.read_ms"] = med("catalog.read")
    lay["serve.spark.collect_ms"] = med("spark.collect")
    collects = [s for s in tr.named("spark.collect") if s.request in client]
    for phase in ("analysis", "optimization", "planning"):
        lay[f"serve.catalyst.{phase}_ms"] = stats.median([s.attrs[phase] for s in collects])
    n = max(len(records), 1)
    tot = trace.job_totals(log, lambda p: p.get("perfbench.request") is not None)
    lay["serve.spark.jobs_per_request"] = tot["jobs"] / n
    lay["serve.spark.tasks_per_request"] = tot["tasks"] / n
    files = sum(s.attrs["files"] for s in collects)
    lay["serve.scan.files_per_request"] = files / max(len(collects), 1)
    # the write path, from the set-up inserts after the first
    lay["serve.pipeline.self_ms"] = stats.median(tr.self_ms("pipeline.ingest"))
    lay["serve.catalog.insert_self_ms"] = stats.median(tr.self_ms("catalog.insert"))
    by_id = {s.sid: s for s in tr.spans}
    writes = [
        s.ms
        for s in tr.named("spark.parquet")
        if s.parent is not None and by_id[s.parent].name == "catalog.insert"
    ]
    lay["serve.spark.table_write_ms"] = stats.median(writes)
    lay["serve.datamodel.validations_per_row"] = ctx.notes["models"] / ctx.notes["inserted"]
    reqs, traced = ctx.notes["requests"], ctx.notes["traced"]
    lay["trace.overhead_pct.serve"] = stats.tracing_cost_pct(
        [(reqs[r["i"]][0], r["i"] in traced, r["end"] - r["start"]) for r in records]
    )
    lay["trace.cpu_ms_per_op.serve"] = outcome.e2e["cpu_ms_per_op"]
