"""Streaming duplicate monitor: cross-batch exact + near-dup flags over a
scored clip stream, shippable via spark-submit --py-files.

    spark-submit --py-files engine.zip jobs/stream_dup_monitor.py \
        --input <scored parquet dir> --output <flags dir> \
        [--checkpoint <dir>] [--available-now]

Reads a STREAM of scored rows (the columns scoring.score_clips emits —
e.g. the checkpointed `scored/` table of run_pipeline, or any directory
another job appends scored batches to) and maintains two TTL-bounded
state stores (engine/streaming/stateful.py):

  * exact audio dups   — one marker per pcm_checksum;
  * textual near-dups  — at most SIMHASH_BUCKET_CAP signatures per
    simhash band bucket.

Outputs, one dir per store, written idempotently per micro-batch (same
retry contract as stream_pipeline):

  * `<output>/exact/batch_id={id}`   — (clip_id, f_stream_dup), already
    one row per clip;
  * `<output>/neardup/batch_id={id}` — (clip_id, f_stream_neardup); the
    sink folds the per-band state rows to one row per clip (clip-level
    flag = OR over its bands — done HERE, batch-side, because an
    append-mode stream cannot re-aggregate its own stateful output).

The two stores run as two concurrent queries over the same input (each
stateful operator keeps its own checkpoint subdir) — simpler and no
slower than one pass with a stream-stream union, since the state shuffle
dominates.  The periodic batch reconcile job (reconcile_dups.py) remains
the canonical authority; this monitor is the low-latency approximation
of the documented lambda split, and when arrival order equals clip_id
order its flags EQUAL the batch answer (pinned by
tests/test_streaming.py::test_stream_dup_monitor_matches_batch_reconcile).
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--available-now", action="store_true")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    args = ap.parse_args()

    from engine import session

    spark = session.get_or_create("clip-stream-dup-monitor")
    # without this, a query holding registered processing-time timeouts
    # (the TTL state) schedules empty no-data micro-batches back-to-back
    # until a timer fires — under availableNow that is an hour-long spin
    # instead of termination (measured: ~100 empty batches before the
    # debug kill).  The monitor doesn't need timer-driven eviction between
    # data batches; expired state is evicted on the next data batch, and
    # the batch reconcile job is the authority anyway.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    from engine.operators import scoring
    from engine.streaming import stateful

    def _stream():
        return (spark.readStream
                .schema(scoring.SCORED_SCHEMA)
                .option("maxFilesPerTrigger", args.max_files_per_trigger)
                .parquet(args.input))

    def _near_sink(batch_df, batch_id: int) -> None:
        folded = (batch_df.groupBy("clip_id")
                  .agg(F.max("f_stream_neardup").alias("f_stream_neardup")))
        # no coalesce(1): a production trigger can carry millions of rows,
        # and the fold's groupBy output is already AQE-sized
        (folded.write.mode("overwrite")
         .parquet(f"{args.output}/neardup/batch_id={batch_id}"))

    def _exact_sink(batch_df, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .parquet(f"{args.output}/exact/batch_id={batch_id}"))

    ckpt = args.checkpoint or f"{args.output}/_checkpoint"
    # Fail fast on a pre-two-store checkpoint: the single-query layout kept
    # its offset log at <ckpt>/offsets directly.  Reusing it as the new
    # per-store parent would silently reprocess the input from offset zero
    # with restarted batch ids, mixing fresh and stale batch_id dirs in the
    # output.  The operator must pick a fresh dir (and a fresh output).
    # The probe goes through the Hadoop FileSystem API, not os.path: with
    # an hdfs:// or s3a:// --checkpoint a local-fs check would silently
    # pass and the reprocessing hazard would return.
    def _hadoop_isdir(uri: str) -> bool:
        jvm = spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(uri)
        fs = path.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        return fs.exists(path) and fs.getFileStatus(path).isDirectory()

    if _hadoop_isdir(f"{ckpt}/offsets"):
        raise SystemExit(
            f"checkpoint {ckpt!r} holds a pre-two-store (single-query) "
            "offset log; pass --checkpoint pointing at a fresh directory "
            "and a fresh --output, then re-run")
    queries = []
    for name, flags, sink in (
            ("exact", stateful.stream_dup_flags(_stream()), _exact_sink),
            ("neardup", stateful.stream_neardup_flags(_stream()), _near_sink)):
        writer = (flags.writeStream
                  .foreachBatch(sink)
                  .outputMode("append")
                  .option("checkpointLocation", f"{ckpt}/{name}"))
        if args.available_now:
            writer = writer.trigger(availableNow=True)
        queries.append(writer.start())
    for q in queries:
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
