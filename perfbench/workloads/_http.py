"""Pieces shared by the HTTP workloads (ingest, serve): the load-generator
process, direct requests for warm-up and checks, and per-request tracing."""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
from collections.abc import Callable, Collection

from perfbench import stats
from perfbench.harness import Context

TOKEN = "perfbench-key"
LOADGEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "loadgen.py")


def send(
    port: int, method: str, path: str, body: bytes | None = None, rid: str | None = None
) -> tuple[int, str]:
    """One request outside the load; ``rid`` is sent as its request id."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        headers = {"Authorization": f"Bearer {TOKEN}"}
        if rid is not None:
            headers["X-Request-Id"] = rid
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read().decode()
    finally:
        conn.close()


def load(
    ctx: Context, port: int, routes: list[str], requests: list[dict], block: int, min_blocks: int
) -> dict:
    """Run the closed loop in a separate process and return its records."""
    spec_path = ctx.path("loadgen", "spec.json")
    out_path = ctx.path("loadgen", "result.json")
    spec = {
        "port": port,
        "token": TOKEN,
        "seconds": ctx.seconds,
        "block": block,
        "min_blocks": min_blocks,
        "routes": routes,
        "requests": requests,
    }
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    subprocess.run(
        [sys.executable, LOADGEN, spec_path, out_path], check=True, timeout=ctx.seconds + 150
    )
    with open(out_path) as fh:
        return json.load(fh)


def rate(result: dict, work: Callable[[dict], float], block: int) -> float:
    """Work per second: the median, over the load's blocks of ``block``
    consecutive requests, of a block's work divided by its span from its
    first request's start to its last reply.  A burst of host load slows
    a few blocks and moves the median little."""
    blocks: dict[int, list[dict]] = {}
    for r in result["records"]:
        blocks.setdefault(r["i"] // block, []).append(r)
    return stats.median(
        [
            sum(work(r) for r in rs) / (max(r["end"] for r in rs) - min(r["start"] for r in rs))
            for rs in blocks.values()
        ]
    )


def latencies_ms(records: list[dict]) -> list[float]:
    return [(r["end"] - r["start"]) * 1e3 for r in records]


def traced_half(kinds: list[str]) -> set[int]:
    """Indices of the requests a traced run traces: the 2nd, 4th, ...
    request of each kind.  Each kind seen twice has traced and untraced
    samples, so every layer it enters is measured and the tracing overhead
    shows within one run."""
    seen: dict[str, int] = {}
    out = set()
    for i, k in enumerate(kinds):
        if seen.get(k, 0) % 2 == 1:
            out.add(i)
        seen[k] = seen.get(k, 0) + 1
    return out


class RequestTracing:
    """Per-request context for a traced run.  The request id arrives in the
    ``X-Request-Id`` header; it is read where the server authorizes the
    request, which runs on the request's own thread before any layer call.
    Requests whose id is in ``traced`` get spans; once ``measuring`` is set,
    every request's Spark jobs carry the ``perfbench.request`` local
    property for the event log."""

    def __init__(self, ctx: Context, traced: Collection[str]):
        from moosestack_spark.http_server import MooseHttpServer

        self.measuring = False
        tr = ctx.tracer
        sc = ctx.spark.sparkContext

        def make(orig):
            def authorize(server, headers):
                rid = headers.get("X-Request-Id")
                on = rid in traced
                sc.setLocalProperty("perfbench.request", rid if self.measuring else None)
                tr.set_request(rid, on)
                return orig(server, headers)

            return authorize

        tr.patch(MooseHttpServer, "_authorize", make)

