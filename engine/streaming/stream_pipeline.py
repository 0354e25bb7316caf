"""Structured Streaming ingest for the quality-filter pipeline.

The reference is strictly batch (SURVEY §2.11) and so is the engine's
primary mode; this module adds the streaming ingest path a production
10^12-clip corpus would use for *incremental arrivals*: new clip files
land in a directory (or Kafka topic — same DataFrame code), each
micro-batch runs the identical fused pipeline, and labels append to the
output table.

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
from pyspark.sql import functions as F

from .. import config, schema
from ..operators import pipeline


def read_clip_stream(spark: SparkSession, input_path: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(schema.CLIPS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_path))


# Kafka message contract (north_star: "directory (or Kafka topic — same
# DataFrame code)"): key = clip_id (utf8), value = raw audio payload
# (bytes, NOT base64 — the payload dominates message size), scalar columns
# as utf8 headers.  A malformed/missing header yields a NULL column, which
# the pipeline's own rules then flag — ingest never throws per message.
_KAFKA_HEADER_COLS = (("sr_hz", "int"), ("dur_ms", "int"),
                      ("codec", "string"), ("transcript", "string"))


def clips_from_kafka_records(raw: DataFrame) -> DataFrame:
    """kafka-source frame (key, value, headers, ...) -> clips-shaped frame.
    Split out from the source so the mapping is unit-testable without a
    broker (tests build a kafka-schema DataFrame directly)."""
    def header(name: str):
        # try_element_at: under ANSI mode element_at(., 1) THROWS on an
        # empty filter result (header absent) instead of returning NULL
        first = F.try_element_at(
            F.expr(f"filter(headers, x -> x.key = '{name}')"), F.lit(1))
        return first["value"].cast("string")

    # try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    # header would otherwise throw mid-stream and kill the query; the
    # contract is NULL-and-let-the-rules-flag-it
    out = raw.select(
        F.col("key").cast("string").alias("clip_id"),
        F.col("value").alias("bytes"),
        *[header(n).try_cast(t).alias(n) for n, t in _KAFKA_HEADER_COLS])
    return out.withColumn(
        "part_id",
        F.pmod(F.xxhash64("clip_id"), F.lit(config.N_PARTS)).cast("int"))


def read_clip_stream_kafka(spark: SparkSession, bootstrap_servers: str,
                           topic: str) -> DataFrame:
    """Kafka ingest of the same clips stream.  Requires the Kafka
    connector on the cluster (standard submit flag:
    --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-ver>);
    without it this fails fast with an actionable message instead of a
    bare 'Failed to find data source' trace — same contract as the
    Iceberg resolver (engine/sources.py)."""
    try:
        raw = (spark.readStream.format("kafka")
               .option("kafka.bootstrap.servers", bootstrap_servers)
               .option("subscribe", topic)
               .option("includeHeaders", "true")
               .load())
    except Exception as e:
        raise RuntimeError(
            f"cannot read kafka topic {topic!r}: the Kafka connector must "
            "be on the cluster classpath (submit with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_<scala>:<spark-version>)"
            f" ({e.__class__.__name__})") from e
    return clips_from_kafka_records(raw)


def start_stream(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint: str, available_now: bool = False,
                 max_files_per_trigger: int = 8):
    """Start the streaming pipeline; returns the StreamingQuery."""
    stream = read_clip_stream(spark, input_path, max_files_per_trigger)

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
