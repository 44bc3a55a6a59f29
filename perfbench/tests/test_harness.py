"""Which requests a traced run traces, and whose per-layer metric is whose."""

from __future__ import annotations

from perfbench import harness
from perfbench.workloads import _http


def test_traced_half_alternates_within_each_kind():
    kinds = ["a", "b", "a", "a", "b", "c", "a"]
    assert _http.traced_half(kinds) == {2, 4, 6}
    # every kind seen twice has a traced and an untraced request
    for k in set(kinds):
        idx = [i for i, x in enumerate(kinds) if x == k]
        if len(idx) >= 2:
            traced = {i in _http.traced_half(kinds) for i in idx}
            assert traced == {True, False}


def test_owner_of_per_layer_metrics():
    assert harness.owner("serve.api.call_ms") == "serve"
    assert harness.owner("analytics.query.dedup_exact_s") == "analytics"
    assert harness.owner("trace.overhead_pct.stream") == "stream"
    assert harness.owner("trace.cpu_ms_per_op.serve") == "serve"


def test_rate_is_the_median_over_blocks():
    # three blocks of two requests; the middle one is slowed by a burst
    spans = [(0.0, 1.0), (0.5, 2.0), (2.0, 3.0), (2.5, 12.0), (12.0, 13.0), (12.5, 14.0)]
    records = [{"i": i, "start": a, "end": b} for i, (a, b) in enumerate(spans)]
    assert _http.rate({"records": records}, lambda r: 1.0, 2) == 1.0
    # work per request counts, e.g. rows acknowledged
    assert _http.rate({"records": records}, lambda r: 3.0, 2) == 3.0
