"""Structured Streaming ingest for the quality-filter pipeline.

The reference is strictly batch (SURVEY §2.11) and so is the engine's
primary mode; this module adds the streaming ingest path a production
10^12-clip corpus would use for *incremental arrivals*: new clip files
land in a directory, and each micro-batch has the checkpointed job's
Stage A/B shape — it writes its scored rows, then labels them with
`pipeline.label` read back from that parquet, pinning no cache:

    <out>/scored/rule_version=<config.rule_version()>/batch_id=<N>/
    <out>/labels/batch_id=<N>/part_id=<K>/

Semantics deliberately scoped (and documented):
  * per-clip rules + scrub + scoring: identical to batch (pure per-row);
  * duplicate detection: WITHIN-micro-batch only — global dedup is the
    periodic jobs/reconcile_dups.py over the stream's scored rows (no
    rescoring), because unbounded exact-dup state per checksum would grow
    without watermark semantics on a key that never expires: the standard
    lambda split for web-scale dedup.
  * sink idempotence: foreachBatch bypasses the file-sink commit log and
    may retry a batch (at-least-once), so each batch overwrites its own
    `batch_id=N` directories: a retry rewrites them, never appends twice.
    Readers of `labels/` see `batch_id` as an extra partition column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import config, schema
from ..operators import pipeline, scoring


def scored_dir(output_path: str) -> str:
    """The stream's scored rows at the current rule_version."""
    return f"{output_path}/scored/rule_version={config.rule_version()}"


def start_stream(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint: str, available_now: bool = False,
                 max_files_per_trigger: int = 8):
    """Start the streaming pipeline; returns the StreamingQuery."""
    stream = (spark.readStream
              .schema(schema.CLIPS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_path))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        scored = f"{scored_dir(output_path)}/batch_id={batch_id}"
        scoring.score_clips(batch_df).write.mode("overwrite").parquet(scored)
        # repartition by the partition column so each part_id dir gets one
        # file per batch (otherwise every shuffle partition contributes a
        # sliver file to every dir)
        (pipeline.label(spark.read.schema(scoring.SCORED_SCHEMA).parquet(scored))
         .repartition("part_id")
         .write.mode("overwrite").partitionBy("part_id")
         .parquet(f"{output_path}/labels/batch_id={batch_id}"))

    writer = (stream.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
