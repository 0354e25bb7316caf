"""Periodic global-dedup reconciliation for the streaming ingest path.

Ship (north_rule):
    cd <repo> && zip -qr /tmp/engine.zip engine
    spark-submit --master 'local[*]' --py-files /tmp/engine.zip \
        jobs/reconcile_dups.py --stream-out /path/stream_out \
        --output /path/reconciled

Labels the stream's own scored rows in one global pass, like Stage B of
the checkpointed job (no payload is decoded or scored again), writes them
to `<output>/labels`, one file per part_id, and prints/writes their diff
against the streaming labels.  Exits non-zero if any flip is NOT
duplicate-rule related (that would mean nondeterminism, not late dup
discovery).
"""

from __future__ import annotations

import argparse
import sys


def reconcile(spark, stream_out: str, output: str) -> tuple[int, int]:
    """Write the global labels of the stream's scored rows to
    `<output>/labels` and their diff against the streaming labels to
    `<output>/diff`; returns (label flips, flips not explained by a dup
    rule).  Raises ValueError before reading any data, see
    streaming.reconcile.scored_batches."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from engine import schema
    from engine.operators import pipeline
    from engine.streaming import reconcile as rec

    (pipeline.label(rec.scored_batches(spark, stream_out))
     .repartition("part_id").write.mode("overwrite")
     .partitionBy("part_id").parquet(f"{output}/labels"))
    # diff the labels just written, as Stage B does: the labels frame
    # would run flags, dedup and decision again
    corrected = spark.read.schema(schema.LABELS_SCHEMA) \
        .parquet(f"{output}/labels")
    diff = rec.diff(corrected, spark.read.parquet(f"{stream_out}/labels"))
    # counted by the write's own job: the diff is not read back
    flips = Observation("flips")
    # diff volume scales with the cross-batch dup rate (at 10^12 clips a
    # few-% rate is 10^10 rows), so no coalesce(1) here: keep the upstream
    # (AQE-sized) partitioning — unlike the O(n_parts)-bounded lineage/
    # report writes, this table is corpus-sized in the worst case
    (diff.observe(flips, F.count("*").alias("n"),
                  F.count_if(~F.col("dup_related")).alias("n_bad"))
     .write.mode("overwrite").parquet(f"{output}/diff"))
    return flips.get["n"], flips.get["n_bad"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stream-out", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from engine import session

    spark = session.get_or_create("clip-quality-reconcile")
    n_flips, n_bad = reconcile(spark, args.stream_out, args.output)
    print(f"reconcile: {n_flips} label flips vs streaming "
          f"({n_flips - n_bad} dup-related, {n_bad} UNEXPLAINED)")
    spark.stop()
    if n_bad:
        print("ERROR: non-dup flips indicate nondeterminism", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
