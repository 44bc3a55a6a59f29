"""Event-log parsing and span bookkeeping."""

from __future__ import annotations

import os
import threading

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _log() -> trace.EventLog:
    with open(LOG) as fh:
        return trace.parse_event_log(fh)


def test_parser_reads_jobs_and_tasks():
    log = _log()
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[1]["stages"] == [1, 2]
    assert log.jobs[0]["props"]["perfbench.request"] == "7"
    assert "perfbench.request" not in log.jobs[2]["props"]
    assert len(log.tasks) == 5
    assert log.stage_job == {0: 0, 1: 1, 2: 1, 3: 2}


def test_job_totals_filter_by_property():
    log = _log()
    tagged = trace.job_totals(log, lambda p: p.get("perfbench.request") == "7")
    # a groupBy: a map stage, a skipped stage (no task) and a reduce stage
    assert (tagged["jobs"], tagged["stages"], tagged["tasks"]) == (2, 2, 3)
    assert tagged["exec_run_s"] == pytest.approx(0.831)
    assert tagged["gc_s"] == pytest.approx(0.047)
    assert tagged["shuffle_write_bytes"] == tagged["shuffle_read_bytes"] == 518
    assert tagged["records_read"] == 2000
    assert tagged["py_to_worker"] == 0
    every = trace.job_totals(log, lambda p: True)
    # the mapInPandas job crosses the Python worker boundary
    assert every["py_to_worker"] == 1184 and every["py_from_worker"] == 1152
    assert every["exec_cpu_s"] == pytest.approx(1.008741212)


def test_spans_nest_per_thread_and_carry_the_request():
    tr = trace.Tracer()

    def leaf():
        return tr.span("leaf", lambda: 1)

    def root():
        return tr.span("root", lambda: leaf() + leaf())

    def worker(rid: str) -> None:
        tr.set_request(rid, True)
        root()

    threads = [threading.Thread(target=worker, args=(str(i),)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    roots = tr.named("root")
    assert len(roots) == 4 and len(tr.named("leaf")) == 8
    by_id = {s.sid: s for s in tr.spans}
    for leaf_span in tr.named("leaf"):
        parent = by_id[leaf_span.parent]
        assert parent.name == "root" and parent.request == leaf_span.request
    assert all(ms >= 0 for ms in tr.self_ms("root"))


def test_untraced_calls_record_nothing():
    tr = trace.Tracer()
    tr.set_request("1", False)
    assert tr.span("x", lambda: 5) == 5
    assert tr.spans == []


def test_wrap_and_restore():
    class Thing:
        def f(self, x):
            return x * 2

    tr = trace.Tracer()
    tr.set_request(None, True)
    tr.wrap(Thing, "f", "thing.f")
    assert Thing().f(3) == 6
    assert [s.name for s in tr.spans] == ["thing.f"]
    tr.restore()
    Thing().f(3)
    assert len(tr.spans) == 1
