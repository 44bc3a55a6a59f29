"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query (TPC-H Q1-shaped pricing summary) at sf0.001.
queries()      — every implemented operator from SURVEY.md §2 + training-data
                 ops, one callable (spark, sf_dir) -> DataFrame each, in
                 correctness-window order (see below).
oracle_sql()   — DuckDB-ANSI equivalents for the hash-compare gate; omitted
                 only for approximate/sketch-based ops (rows-only check).

Implementations live in moosestack_spark/ (operators/, ops/); this module is
just the registry surface.

The correctness run hash-checks the first 50 gates of queries(), so
the order is the rotation: the gates named in CHANGED lead, then every other
oracled gate by the round of its latest green hash row in the committed
CORRECTNESS_r<round>.json records (oldest evidence first, never-green first
of all, ties by name), then the rows-only gates.  Committing a round's record
rotates the window on its own.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from moosestack_spark import registry

# Gates whose execution path changed since the last correctness record: they
# get a fresh hash row on the new code before any rotation slot.  The commit
# that changes a gate's execution path names the gate here; the commit that
# lands the next CORRECTNESS record empties the list again.
CHANGED: list[str] = []

_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _loaded() -> None:
    registry.load_all()


def _latest_green() -> dict[str, int]:
    """Gate name -> latest round with a hash_match row in the committed record."""
    latest: dict[str, int] = {}
    for fname in os.listdir(_HERE):
        m = _RECORD.fullmatch(fname)
        if not m:
            continue
        with open(os.path.join(_HERE, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def _order(latest: dict[str, int]) -> list[str]:
    rest = [n for n in sorted(registry.QUERIES) if n not in CHANGED]
    oracled = sorted(
        (n for n in rest if n in registry.ORACLES), key=lambda n: latest.get(n, 0)
    )
    return [*CHANGED, *oracled, *(n for n in rest if n not in registry.ORACLES)]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _loaded()
    return registry.QUERIES["agg_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _loaded()
    return {n: registry.QUERIES[n] for n in _order(_latest_green())}


def oracle_sql() -> dict[str, str]:
    _loaded()
    return dict(registry.ORACLES)
