"""Concurrent appends to one table keep every acknowledged row.

The HTTP server runs each POST /ingest/{model} on its own thread, so two
requests to one route append to one parquet directory at the same time.
Spark stages every append job under that directory's single ``_temporary``
directory and the first job to commit deletes it; without a per-directory
lock the other job's files vanish (or its commit fails) after its rows were
acknowledged."""

from __future__ import annotations

import threading

from pydantic import BaseModel

from moosestack_spark.datamodel import Key
from moosestack_spark.pipeline import IngestPipeline


class Tick(BaseModel):
    tick_id: Key[int]
    value: int


N_THREADS = 2
BATCHES = 3
ROWS = 20


def test_concurrent_inserts_keep_every_id_exactly_once(spark, tmp_path):
    pipe = IngestPipeline("ticks", Tick, spark, str(tmp_path / "wh"))
    start = threading.Barrier(N_THREADS)
    replies: list[dict] = []
    errors: list[Exception] = []

    def post(worker: int) -> None:
        try:
            start.wait()
            for b in range(BATCHES):
                base = (worker * BATCHES + b) * ROWS
                rows = [{"tick_id": base + i, "value": i} for i in range(ROWS)]
                rows.append({"tick_id": "poison", "value": b})  # one DLQ row each
                replies.append(pipe.ingest(rows))
        except Exception as exc:  # surfaced below, not lost in the thread
            errors.append(exc)

    threads = [threading.Thread(target=post, args=(w,)) for w in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "an insert thread hung"
    assert not errors, errors
    assert replies == [{"inserted": ROWS, "dead_lettered": 1}] * (N_THREADS * BATCHES)
    ids = [r.tick_id for r in pipe.table.read_raw().select("tick_id").collect()]
    assert sorted(ids) == list(range(N_THREADS * BATCHES * ROWS))
    assert pipe.read_dlq().count() == N_THREADS * BATCHES
