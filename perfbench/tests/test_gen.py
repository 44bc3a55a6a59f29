"""Generator determinism: the same seed gives byte-identical inputs."""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import gen


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_dataset_is_byte_identical_per_seed(tmp_path):
    a = gen.write_dataset(7, 0.001, str(tmp_path / "a"))
    b = gen.write_dataset(7, 0.001, str(tmp_path / "b"))
    c = gen.write_dataset(8, 0.001, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert len(_digest(a)) == 10


def test_ingest_requests_are_identical_per_seed():
    events = gen.events_table(3, 5000)
    r1 = gen.ingest_requests(3, 12, events)
    r2 = gen.ingest_requests(3, 12, gen.events_table(3, 5000))
    assert [r.body for r in r1] == [r.body for r in r2]
    assert [r.body for r in r1] != [r.body for r in gen.ingest_requests(4, 12, events)]


def test_ingest_request_mix_and_expectations():
    reqs = gen.ingest_requests(5, 20, gen.events_table(5, 5000))
    for b in range(20):
        sizes = sorted(r.rows for r in reqs[b * 10 : b * 10 + 10])
        assert sizes == sorted(gen.BLOCK_SIZES)
    truncated = [r for r in reqs if r.truncated]
    assert len(truncated) == 2
    for r in reqs:
        if r.truncated:
            continue
        rows = json.loads(r.body)
        ids = [row["event_id"] for row in rows]
        assert set(r.valid_ids) <= set(ids)
        assert len(ids) - len(r.valid_ids) == r.dlq_rows
    all_ids = [i for r in reqs for i in r.valid_ids]
    assert len(all_ids) == len(set(all_ids))


def test_serve_requests_are_identical_per_seed():
    assert gen.serve_requests(1, 5) == gen.serve_requests(1, 5)
    assert gen.serve_requests(1, 5) != gen.serve_requests(2, 5)
    apis = [a for a, _ in gen.serve_requests(1, 3)]
    assert sorted(apis[:10]) == sorted(gen.SERVE_MIX)
    # the seed picks the parameters, not the order of APIs and ranks
    assert apis == [a for a, _ in gen.serve_requests(2, 3)]


def test_stream_files_are_identical_per_seed(tmp_path):
    events = gen.events_table(2, 4000)
    e1 = gen.stream_files(2, events, 4, str(tmp_path / "a"))
    e2 = gen.stream_files(2, events, 4, str(tmp_path / "b"))
    assert e1 == e2
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert e1["clean"] + e1["clean_dlq"] == e1["rows"] == 4000
    assert e1["typed"] + e1["typed_dlq"] <= e1["rows"]
