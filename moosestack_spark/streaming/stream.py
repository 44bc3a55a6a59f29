"""Stream + transform model (SURVEY.md §2.8).

Port targets in /root/reference/:
- py-moose-lib/moose_lib/dmv2/stream.py:119 (Stream), :157-201
  (add_transform — per-record fn returning ``U | list[U] | None``, i.e.
  map / flatMap / filter in one: "ZeroOrMany"), :203-223 (add_consumer),
  :233-268 (multi-route fan-out)
- ts-moose-lib/src/streaming-functions/runner.ts:258-398 (per-message
  handling, DLQ wrapping :296-343, ZeroOrMany flattening :346-378)

Spark-first execution model
---------------------------
Two transform flavors, mirroring "UDFs are the slow path":

1. **Expression transforms** (preferred): the user supplies a function
   ``DataFrame -> DataFrame`` built from pyspark.sql.functions — stays
   JVM-side, whole-stage codegen, scales to 100 TB.  Validation failures are
   expressed as a boolean "poison" Column; poisoned rows are routed to the
   DLQ with the reference's envelope, healthy rows continue.

2. **Record transforms** (compat path): a per-record Python callable with
   the reference's exact ZeroOrMany contract, executed via mapInPandas
   (Arrow-batched, not row-at-a-time pickling).  Exceptions inside the
   callable dead-letter ONLY the offending record (runner.ts:296-330).

Both run identically over a batch DataFrame or inside
``foreachBatch`` of a Structured Streaming query (see runner.py), which is
how at-least-once delivery per destination is inherited from Spark
checkpointing rather than hand-rolled offset commits (kafka auto-commit 5s
in runner.ts:44): a batch that fails part-way is replayed in full.
"""

from __future__ import annotations

import json
import traceback
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from moosestack_spark.streaming.dlq import DLQ_SCHEMA

ZeroOrMany = Union[None, dict, Sequence[dict]]
RecordFn = Callable[[dict], ZeroOrMany]
FrameFn = Callable[[DataFrame], DataFrame]


@dataclass
class TransformResult:
    output: DataFrame
    dlq: DataFrame  # DLQ_SCHEMA rows


@dataclass
class ExpressionTransform:
    """JVM-side transform with an optional poison predicate.

    ``poison_when`` rows go to the DLQ (source='transform'); the rest flow
    through ``apply``.  ``apply`` may change cardinality (explode) — the
    ZeroOrMany contract expressed columnar.
    """

    apply: FrameFn
    poison_when: Optional[Column] = None
    error_message: str = "validation failed"
    error_type: str = "ValidationError"

    def run(self, df: DataFrame) -> TransformResult:
        spark = df.sparkSession
        if self.poison_when is not None:
            poisoned = df.filter(self.poison_when)
            healthy = df.filter(~F.coalesce(self.poison_when, F.lit(False)))
            dlq = poisoned.select(
                F.to_json(F.struct(*df.columns)).alias("original_record"),
                F.lit(self.error_message).alias("error_message"),
                F.lit(self.error_type).alias("error_type"),
                F.current_timestamp().alias("failed_at"),
                F.lit("transform").alias("source"),
            )
        else:
            healthy = df
            dlq = spark.createDataFrame([], DLQ_SCHEMA)
        return TransformResult(output=self.apply(healthy), dlq=dlq)


@dataclass
class RecordTransform:
    """The reference's per-record ZeroOrMany contract, Arrow-batched.

    fn(record: dict) -> None (drop) | dict (map) | list[dict] (flatMap);
    raising inside fn dead-letters only that record (runner.ts:296-343).
    """

    fn: RecordFn
    output_schema: StructType

    def run(self, df: DataFrame) -> TransformResult:
        fn = self.fn
        out_schema = self.output_schema
        out_fields = [f.name for f in out_schema.fields]
        in_fields = df.columns

        combined = StructType(
            [f for f in out_schema.fields]
        ).add("__dlq", DLQ_SCHEMA)

        def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_rows: list[dict] = []
                for rec in pdf.to_dict(orient="records"):
                    try:
                        res = fn(rec)
                    except Exception as exc:  # DLQ only this record
                        out_rows.append(
                            {
                                **{c: None for c in out_fields},
                                "__dlq": {
                                    "original_record": json.dumps(rec, default=str),
                                    "error_message": str(exc),
                                    "error_type": type(exc).__name__,
                                    "failed_at": datetime.now(timezone.utc),
                                    "source": "transform",
                                },
                            }
                        )
                        continue
                    if res is None:
                        continue
                    items = res if isinstance(res, (list, tuple)) else [res]
                    for item in items:
                        out_rows.append({**{c: None for c in out_fields}, **item, "__dlq": None})
                yield pd.DataFrame(
                    out_rows, columns=[*out_fields, "__dlq"]
                ) if out_rows else pd.DataFrame(columns=[*out_fields, "__dlq"])

        raw = df.mapInPandas(process, schema=combined)
        # Single pass splits healthy vs dead-lettered rows.
        output = raw.filter(F.col("__dlq").isNull()).drop("__dlq")
        dlq = raw.filter(F.col("__dlq").isNotNull()).select("__dlq.*")
        _ = in_fields
        return TransformResult(output=output, dlq=dlq)


Transform = Union[ExpressionTransform, RecordTransform]


@dataclass
class Stream:
    """Typed stream with transform edges (dmv2/stream.py:119).

    ``transforms`` maps destination name -> list of transforms (multiple
    versioned transforms per edge are allowed, stream.py:157-201);
    ``consumers`` are side-effect subscribers (stream.py:203-223).
    """

    name: str
    schema: Optional[StructType] = None
    transforms: dict[str, list[Transform]] = field(default_factory=dict)
    consumers: list[Callable[[DataFrame], None]] = field(default_factory=list)
    # multi-route fan-out (set_multi_transform / routed(), stream.py:233-268)
    route_expr: Optional[Callable[[], "Column"]] = None
    route_destinations: tuple = ()

    def add_transform(self, destination: str, transform: Transform) -> "Stream":
        self.transforms.setdefault(destination, []).append(transform)
        return self

    def add_consumer(self, fn: Callable[[DataFrame], None]) -> "Stream":
        self.consumers.append(fn)
        return self

    def set_multi_transform(
        self, route: Callable[[], "Column"], destinations: Sequence[str]
    ) -> "Stream":
        """One routing expression fans each record out to a destination
        stream (py stream.py:233-268 set_multi_transform/routed).  The
        routing column names the destination per row; a NULL route drops
        the record.  Each destination may additionally carry its own
        add_transform chain.  One scan of the batch; the per-destination
        filters are pushdown-friendly predicates on the routing value."""
        self.route_expr = route
        self.route_destinations = tuple(destinations)
        return self

    def process_batch(self, df: DataFrame) -> dict[str, TransformResult]:
        """Run every transform edge over one (micro-)batch; returns per-
        destination results.  Consumers see the raw batch (runner.ts:386)."""
        for consume in self.consumers:
            consume(df)
        inputs: dict[str, DataFrame] = {}
        if self.route_expr is not None:
            routed = df.withColumn("__route", self.route_expr())
            for dest in self.route_destinations:
                inputs[dest] = routed.filter(F.col("__route") == dest).drop("__route")
        for dest in self.transforms:
            inputs.setdefault(dest, df)
        out: dict[str, TransformResult] = {}
        for dest, cur in inputs.items():
            dlqs: list[DataFrame] = []
            for tr in self.transforms.get(dest, []):
                res = tr.run(cur)
                cur = res.output
                dlqs.append(res.dlq)
            dlq = None
            for d in dlqs:
                if d is None:
                    continue
                dlq = d if dlq is None else dlq.unionByName(d)
            out[dest] = TransformResult(output=cur, dlq=dlq)
        return out


def dlq_as_typed(dlq_df: DataFrame, schema: StructType) -> DataFrame:
    """DLQ recovery (stream.py:451 `as_typed()`): parse original_record back
    into the typed schema for re-processing."""
    return dlq_df.select(
        F.from_json(F.col("original_record"), schema).alias("r")
    ).select("r.*")


# --------------------------------------------------------------------------
# Confluent schema-registry wire format (runner.ts:274-281; py
# stream.py:387-418): 0x00 magic byte + 4-byte big-endian schema id + JSON
# payload.  Kafka `value` columns pass through strip_sr_envelope before
# from_json; non-enveloped messages are returned unchanged.
# --------------------------------------------------------------------------

_MAX_BYTES = 2_147_483_647


def strip_sr_envelope(value: Column) -> Column:
    """Payload bytes with the 5-byte Confluent header removed (when present)."""
    is_sr = (F.length(value) >= 5) & (F.substring(value, 1, 1) == F.lit(bytes([0])))
    return F.when(is_sr, F.substring(value, 6, _MAX_BYTES)).otherwise(value)


def sr_schema_id(value: Column) -> Column:
    """The 4-byte big-endian schema id, NULL for non-enveloped messages."""
    is_sr = (F.length(value) >= 5) & (F.substring(value, 1, 1) == F.lit(bytes([0])))
    sid = F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("long")
    return F.when(is_sr, sid)


def add_sr_envelope(value: Column, schema_id: int) -> Column:
    """Producer-side Confluent wire format (py stream.py:387-418 serializes
    outbound records the same way the consume path strips them): 0x00 magic
    byte + 4-byte big-endian schema id prepended to the payload bytes.
    Pure JVM expression — composes into any writeStream projection."""
    if not (0 <= schema_id <= 0xFFFFFFFF):
        raise ValueError(f"schema_id {schema_id} out of uint32 range")
    header = bytes([0]) + schema_id.to_bytes(4, "big")
    return F.concat(F.lit(header), value.cast("binary"))
