"""Structured Streaming ingest for the quality-filter pipeline.

The reference is strictly batch (SURVEY §2.11) and so is the engine's
primary mode; this module adds the streaming ingest path a production
10^12-clip corpus would use for *incremental arrivals*: new clip files
land in a directory, each micro-batch runs the identical fused pipeline,
and labels append to the output table.

Semantics deliberately scoped (and documented):
  * per-clip rules + scrub + scoring: identical to batch (pure per-row);
    each micro-batch goes through `pipeline.labeled`, the batch pass, whose
    scope releases the batch's cached scored table once its labels are
    written, so a long-running stream holds no cache across batches;
  * duplicate detection: WITHIN-micro-batch only (plus against nothing
    else) — global dedup stays a periodic batch job over the accumulated
    table, because unbounded exact-dup state per checksum would grow
    without watermark semantics on a key that never expires.  This is the
    standard lambda split for web-scale dedup (batch reconciliation over
    streaming approximations).
  * sink idempotence: foreachBatch bypasses the file-sink commit log, so a
    plain append would duplicate label rows when a micro-batch retries
    (at-least-once).  Instead each batch overwrites its own
    `labels/batch_id={id}` directory — a retry rewrites the same directory,
    making the write idempotent and the overall path effectively-once.
    Readers of `labels/` see `batch_id` as an extra partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import schema
from ..operators import pipeline


def start_stream(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint: str, available_now: bool = False,
                 max_files_per_trigger: int = 8):
    """Start the streaming pipeline; returns the StreamingQuery."""
    stream = (spark.readStream
              .schema(schema.CLIPS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_path))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # repartition by the partition column so each part_id dir gets one
        # file per batch (otherwise every shuffle partition contributes a
        # sliver file to every dir); per-batch directory + overwrite =
        # idempotent under batch retry
        with pipeline.labeled(batch_df) as labels:
            (labels.repartition("part_id")
             .write.mode("overwrite").partitionBy("part_id")
             .parquet(f"{output_path}/labels/batch_id={batch_id}"))

    writer = (stream.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
