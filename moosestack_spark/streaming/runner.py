"""Structured-Streaming runner: replays a stream source through a Stream's
transform edges into destination tables (SURVEY.md §3.2 write path).

Reference pipeline: topic -> function process (runner.ts eachBatch<=1000) ->
destination topic -> kafka_clickhouse_sync (batch <=100k rows / <=1s flush,
offsets committed after insert => at-least-once).

Spark mapping: readStream -> foreachBatch(stream.process_batch) -> parquet
appends per destination + DLQ.  Delivery is at-least-once per destination,
the reference's guarantee: the checkpoint commits a batch only after all of
its appends, but each destination and each DLQ is its own plain parquet
append, so a crash between two appends replays the whole batch and
duplicates the rows already appended.  The reference's batching constants (100k rows / 1s flush) correspond to micro-
batch trigger sizing here (maxFilesPerTrigger / maxOffsetsPerTrigger).
"""

from __future__ import annotations

import os
import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from moosestack_spark.streaming.stream import Stream


def run_file_stream(
    spark: SparkSession,
    source_path: str,
    source_schema: StructType,
    stream: Stream,
    out_dir: str,
    checkpoint_dir: Optional[str] = None,
    max_files_per_trigger: int = 1,
) -> dict[str, str]:
    """Replay a parquet directory as a bounded stream (Trigger.AvailableNow)
    through the stream's transforms; write each destination + its DLQ as
    parquet under out_dir.  Returns {destination: path}.
    """
    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="msk_ckpt_")
    # FileStreamSource requires a directory; wrap a single-file source in a
    # temp dir of symlinks (zero-copy).
    if os.path.isfile(source_path):
        link_dir = tempfile.mkdtemp(prefix="msk_src_")
        os.symlink(source_path, os.path.join(link_dir, os.path.basename(source_path)))
        source_path = link_dir
    reader = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_path)
    )

    paths: dict[str, str] = {}
    destinations = list(stream.transforms) + [
        d for d in stream.route_destinations if d not in stream.transforms
    ]
    for dest in destinations:
        paths[dest] = os.path.join(out_dir, dest)
        paths[f"{dest}__dlq"] = os.path.join(out_dir, f"{dest}__dlq")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        results = stream.process_batch(batch_df)
        for dest, res in results.items():
            res.output.write.mode("append").parquet(paths[dest])
            if res.dlq is not None:
                res.dlq.write.mode("append").parquet(paths[f"{dest}__dlq"])

    q = (
        reader.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return paths
