"""Closed-loop HTTP load generator, run as its own process.

    python3 perfbench/loadgen.py SPEC.json RESULT.json

SPEC holds ``port``, ``token``, ``seconds``, ``block``, ``min_blocks``,
``routes`` (one per connection; a request's path is its route plus its
``path`` suffix) and ``requests`` (``method``, ``path``, ``body``).  Each
connection sends its next request only after the previous reply.  Requests
are taken in order from one shared queue; once ``seconds`` have passed, no
new block of ``block`` requests is started, so a run always ends on whole
blocks.  RESULT gets one record per request sent: index, connection,
status, start/end (``time.perf_counter``, comparable across processes on
one host) and the reply body.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time


def run(spec: dict) -> dict:
    reqs = spec["requests"]
    block, min_n = spec["block"], spec["block"] * spec["min_blocks"]
    lock = threading.Lock()
    nxt = [0]
    records: list[dict] = []
    t0 = time.perf_counter()
    deadline = t0 + spec["seconds"]

    def take() -> int | None:
        with lock:
            i = nxt[0]
            at_boundary = i % block == 0 and i >= min_n
            if i >= len(reqs) or (at_boundary and time.perf_counter() >= deadline):
                return None
            nxt[0] += 1
            return i

    def client(conn_id: int, route: str) -> None:
        while (i := take()) is not None:
            r = reqs[i]
            body = r["body"].encode() if r.get("body") is not None else None
            headers = {"Authorization": f"Bearer {spec['token']}", "X-Request-Id": str(i)}
            if body is not None:
                headers["Content-Type"] = "application/json"
            start = time.perf_counter()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", spec["port"], timeout=120)
                try:
                    conn.request(r["method"], route + r["path"], body=body, headers=headers)
                    resp = conn.getresponse()
                    status, payload = resp.status, resp.read().decode()
                finally:
                    conn.close()
            except OSError as exc:
                status, payload = 0, repr(exc)
            end = time.perf_counter()
            with lock:
                records.append(
                    {
                        "i": i,
                        "conn": conn_id,
                        "status": status,
                        "start": start,
                        "end": end,
                        "body": payload,
                    }
                )

    threads = [
        threading.Thread(target=client, args=(c, route), daemon=True)
        for c, route in enumerate(spec["routes"])
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    records.sort(key=lambda r: r["i"])
    return {"start": t0, "end": time.perf_counter(), "records": records}


def main(argv: list[str]) -> int:
    with open(argv[1]) as fh:
        spec = json.load(fh)
    result = run(spec)
    with open(argv[2], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
