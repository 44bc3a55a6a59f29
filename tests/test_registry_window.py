"""Correctness-window invariants: the correctness gate checks only the
FIRST 50 gates of ``__spark_entry__.queries()``, so that order is
load-bearing.  These checks catch the mistakes that would silently waste a
round: a window that isn't 50 registered unique gates, a CHANGED name that
does not lead, an oracled gate that has neither a prior green row nor a
slot, or an order that does not rotate to the oldest evidence next."""

from __future__ import annotations

import __spark_entry__ as entry
from moosestack_spark import registry

_WINDOW = 50

entry._loaded()


def test_queries_cover_every_registered_gate_once():
    names = list(entry.queries())
    assert len(names) == len(set(names)) == len(registry.QUERIES)
    assert set(names) == set(registry.QUERIES)


def test_window_is_exactly_50_registered_unique():
    window = list(entry.queries())[:_WINDOW]
    assert len(window) == _WINDOW, f"window must be exactly 50, got {len(window)}"
    assert len(set(window)) == _WINDOW, "duplicate names in the window"
    unknown = [n for n in window if n not in registry.QUERIES]
    assert not unknown, f"window names not registered: {unknown}"
    assert len(entry.CHANGED) == len(set(entry.CHANGED)) <= _WINDOW
    unknown = [n for n in entry.CHANGED if n not in registry.QUERIES]
    assert not unknown, f"CHANGED names not registered: {unknown}"


def test_window_comes_first_changed_then_oldest_evidence():
    names = list(entry.queries())
    latest = entry._latest_green()
    assert names[: len(entry.CHANGED)] == entry.CHANGED
    rest = names[len(entry.CHANGED) :]
    oracled = [n for n in rest if n in registry.ORACLES]
    assert rest[: len(oracled)] == oracled, "rows-only gates must come last"
    keys = [(latest.get(n, 0), n) for n in oracled]
    assert keys == sorted(keys), "oracled gates must run oldest evidence first"


def test_every_oracled_query_has_green_row_or_window_slot():
    names = list(entry.queries())
    latest = entry._latest_green()
    window = set(names[:_WINDOW])
    uncovered = [n for n in names if n in registry.ORACLES and n not in latest and n not in window]
    # never-green gates that overflow the window must sit immediately after
    # it, so they are the first thing the next round's rotation picks up
    assert names[_WINDOW : _WINDOW + len(uncovered)] == uncovered


def test_what_follows_the_window_is_the_next_rotation(monkeypatch):
    monkeypatch.setattr(entry, "CHANGED", [])
    latest = entry._latest_green()
    first = entry._order(latest)
    next_round = max(latest.values()) + 1
    after = {**latest, **{n: next_round for n in first[:_WINDOW]}}
    second = entry._order(after)
    assert second[:_WINDOW] == first[_WINDOW : 2 * _WINDOW]
    assert not set(second[:_WINDOW]) & set(first[:_WINDOW])


def test_changed_gate_leads_even_when_green_recently(monkeypatch):
    latest = entry._latest_green()
    newest = max(latest.values())
    recent = sorted(n for n in registry.ORACLES if latest.get(n) == newest)[0]
    monkeypatch.setattr(entry, "CHANGED", [recent])
    order = entry._order(latest)
    assert order[0] == recent
    assert len(order) == len(set(order)) == len(registry.QUERIES)
    assert list(entry.queries())[0] == recent


def test_every_query_callable_and_every_oracle_has_query():
    assert set(registry.ORACLES) <= set(registry.QUERIES)
    for name, fn in registry.QUERIES.items():
        assert callable(fn), name
