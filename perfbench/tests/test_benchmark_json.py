"""BENCHMARK.json stays within its contract and agrees with the code."""

from __future__ import annotations

import json
import os
import re

from perfbench import harness
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert len(json.dumps(spec)) <= 64 * 1024


def test_end_to_end_matches_the_harness():
    e2e = _spec()["end_to_end"]
    assert {m["name"]: m["unit"] for m in e2e} == harness.E2E_UNITS
    bounds = {m["name"]: m["bound"] for m in e2e}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])


def test_per_layer_units_follow_their_names():
    for m in _spec()["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["unit"] == harness.unit_of(m["name"]), m["name"]
    listed = {w["name"] for w in _spec()["workloads"]}
    for m in _spec()["per_layer"]:
        assert harness.owner(m["name"]) in listed, m["name"]
