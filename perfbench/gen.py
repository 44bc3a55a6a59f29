"""Seeded input generators for the benchmark.

Everything the program sees is made here from ``--seed``: the TPC-H-shaped
star schema plus the ``events`` table (same column names and types as the
tables ``moosestack_spark.tables`` reads), the ingest request stream, the
serve parameter stream and the stream replay files.  The same seed gives
byte-identical parquet files and identical request bodies.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("small", "large", "red", "blue", "hot", "old", "new", "dark")
NOUNS = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve")
VOCAB = (
    "a the data query small big fast slow row column table key value part "
    "hash scan join merge sort window agg group filter stream batch spark "
    "line order customer vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
ORDER_D0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values of another."""
    key = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, key, len(stream)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# -- tables -------------------------------------------------------------------


def events_table(seed: int, n: int) -> pa.Table:
    rng = rng_for(seed, "events")
    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n // 66, 10), n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.gamma(2.0, 25.0, n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    rng = rng_for(seed, "star")
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
    }
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    part_price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(part_price),
        }
    )
    odate = ORDER_D0 + rng.integers(0, ORDER_DAYS, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    pkey = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(pkey),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(lineno),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * part_price[pkey], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    return out


def text_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """documents (word-salad text with ~5% exact duplicates) and embeddings
    (64-d unit vectors around 10 labelled centroids)."""
    rng = rng_for(seed, "text")
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(20, 80))]) for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_docs)]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    vecs = centroids[label] + rng.normal(scale=0.6, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_dataset(seed: int, sf: float, out_dir: str, tables: tuple[str, ...] | None = None) -> str:
    """Write the requested tables as ``{out_dir}/{name}.parquet``."""
    made: dict[str, pa.Table] = {}
    want = set(tables) if tables else None
    star = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
    if want is None or want & star:
        made.update(star_tables(seed, sf))
    if want is None or "events" in want:
        made["events"] = events_table(seed, int(1_000_000 * sf))
    if want is None or want & {"documents", "embeddings"}:
        made.update(text_tables(seed, int(50_000 * sf), int(20_000 * sf)))
    for name, table in made.items():
        if want is None or name in want:
            _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- ingest requests ------------------------------------------------------------

# Request sizes and their share of requests: 40/30/20/10 over 1/10/100/1000
# rows.  Each block of ten requests holds exactly this mix in seeded order,
# so a run that completes whole blocks sends the same rows per block.
BLOCK_SIZES = (1, 1, 1, 1, 10, 10, 10, 100, 100, 1000)
POISON_SHARE = 0.02
TRUNCATE_EVERY = 100  # one truncated body per hundred requests (1%)


@dataclass
class IngestRequest:
    body: bytes
    valid_ids: list[int]  # ids the table must hold after a 200
    dlq_rows: int  # rows the DLQ must gain (poison rows, or salvaged objects)
    truncated: bool

    @property
    def rows(self) -> int:
        """Rows in the body as generated (the request's size class)."""
        return len(self.valid_ids) + self.dlq_rows + self.truncated


def _poison(rng: np.random.Generator, row: dict) -> dict:
    row = dict(row)
    kind = int(rng.integers(0, 3))
    if kind == 0:
        row["ts"] = "not-a-timestamp"
    elif kind == 1:
        del row["user_id"]
    else:
        row["event_type"] = "teleport"
    return row


def event_rows(events: pa.Table, start: int, n: int) -> list[dict]:
    """Rows ``start .. start + n`` of ``events`` as JSON-ready dicts."""
    part = events.slice(start, n).to_pydict()
    ts = [t.isoformat() for t in part["ts"]]
    return [
        {
            "event_id": part["event_id"][i],
            "ts": ts[i],
            "user_id": part["user_id"][i],
            "event_type": part["event_type"][i],
            "value": part["value"][i],
            "props": part["props"][i],
        }
        for i in range(n)
    ]


def ingest_requests(seed: int, n_blocks: int, events: pa.Table) -> list[IngestRequest]:
    """Request stream: ``n_blocks`` blocks of the size mix; rows are drawn in
    order from ``events`` (wrapping with fresh ids past the end), ~2% of rows
    are poison and one body in every hundred is truncated JSON."""
    rng = rng_for(seed, "ingest")
    n_events = events.num_rows
    cursor = 0
    out: list[IngestRequest] = []
    for _ in range(n_blocks):
        sizes = list(rng.permutation(BLOCK_SIZES))
        for size in sizes:
            size = int(size)
            i = len(out)
            start = cursor % n_events
            rows = event_rows(events, start, min(size, n_events - start))
            rows += event_rows(events, 0, size - len(rows))
            for j, r in enumerate(rows):
                r["event_id"] = cursor + j  # unique across the whole run
            cursor += size
            poison = rng.random(size) < POISON_SHARE
            rows = [_poison(rng, r) if p else r for r, p in zip(rows, poison)]
            body = json.dumps(rows).encode()
            if i % TRUNCATE_EVERY == TRUNCATE_EVERY // 2:
                # cut inside the last object: every earlier object is
                # complete and is salvaged into the DLQ
                cut = body.rfind(b"{")
                body = body[: cut + 5]
                out.append(IngestRequest(body, [], len(rows) - 1, True))
                continue
            valid = [r["event_id"] for r, p in zip(rows, poison) if not p]
            out.append(IngestRequest(body, valid, int(poison.sum()), False))
    return out


# -- serve parameters -----------------------------------------------------------

SERVE_MIX = (
    ("orders_by_segment",) * 4 + ("events_by_type",) * 3 + ("daily_rollup",) * 2 + ("top_parts",)
)


def serve_combos() -> dict[str, list[dict]]:
    """The 64 distinct parameter combinations, 16 per API."""
    years = (1995, 1996, 1997, 1998)
    return {
        "orders_by_segment": [
            {"segment": s, "year": y} for s in SEGMENTS[:4] for y in years
        ],
        "events_by_type": [
            {"event_type": e, "min_value": v}
            for e in EVENT_TYPES[:4]
            for v in (0, 10, 50, 100)
        ],
        "daily_rollup": [
            {"day_from": f"2024-01-{d:02d}", "days": n}
            for d in (1, 8, 15, 22)
            for n in (1, 3, 5, 7)
        ],
        "top_parts": [
            {"part_type": t, "year": y} for t in PART_TYPES[:4] for y in years
        ],
    }


def serve_requests(seed: int, n_blocks: int) -> list[tuple[str, dict]]:
    """Blocks of ten requests in the 40/30/20/10 API mix; parameters drawn
    from a Zipf(1.2) over each API's 16 combinations.  The seed sets which
    combination has which rank.  The order of the APIs and the ranks drawn
    are the same for every seed, so every seed meets a combination it has
    not seen before at the same places in the stream (a first call may
    cost more than a repeat, e.g. once a cache keys on the parameters)."""
    draws = rng_for(0, "serve-draws")
    rng = rng_for(seed, "serve")
    combos = serve_combos()
    ranks = {api: rng.permutation(len(c)) for api, c in combos.items()}
    w = 1.0 / np.arange(1, 17) ** 1.2
    w /= w.sum()
    out: list[tuple[str, dict]] = []
    for _ in range(n_blocks):
        for api in draws.permutation(SERVE_MIX):
            k = ranks[str(api)][draws.choice(16, p=w)]
            out.append((str(api), combos[str(api)][int(k)]))
    return out


# -- stream replay files --------------------------------------------------------

STREAM_POISON_SHARE = 0.01


def stream_files(seed: int, events: pa.Table, n_files: int, out_dir: str) -> dict:
    """Split ``events`` into ``n_files`` seeded parquet files (lexically
    ordered names, so the file source reads them in order).  ~1% of rows get
    a negative ``value`` (the poison predicate of the clean edge), and the
    ``props`` key drives the record transform: k % 97 == 0 raises, k % 10 ==
    1 drops.  Returns the expected counts for the output check."""
    rng = rng_for(seed, "stream")
    n = events.num_rows
    value = events.column("value").to_numpy().copy()
    poison = rng.random(n) < STREAM_POISON_SHARE
    value[poison] = -value[poison]
    ks = rng.integers(0, 1000, n)
    utc_ts = events.column("ts").cast(pa.timestamp("us", tz="UTC"))
    table = (
        events.set_column(events.schema.get_field_index("value"), "value", pa.array(value))
        .set_column(events.schema.get_field_index("ts"), "ts", utc_ts)
        .set_column(
            events.schema.get_field_index("props"), "props", pa.array([f'{{"k": {k}}}' for k in ks])
        )
    )
    cuts = np.sort(rng.choice(np.arange(1, n), n_files - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        _write(part, os.path.join(out_dir, f"part-{i:04d}.parquet"))
    raises = ks % 97 == 0
    drops = (ks % 10 == 1) & ~raises
    return {
        "rows": n,
        "clean": int((~poison).sum()),
        "clean_dlq": int(poison.sum()),
        "typed": int((~raises & ~drops).sum()),
        "typed_dlq": int(raises.sum()),
    }
