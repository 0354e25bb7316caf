"""Periodic global-dedup reconciliation for the streaming ingest path.

Ship (north_rule):
    cd <repo> && zip -qr /tmp/engine.zip engine
    spark-submit --master 'local[*]' --py-files /tmp/engine.zip \
        jobs/reconcile_dups.py --clips /path/clips \
        --stream-labels /path/stream_out/labels --output /path/reconciled

Recomputes the global batch answer over the accumulated clips table,
writes it as the corrected labels, and prints/writes the diff between the
labels it wrote and the streaming labels.  Exits non-zero if any flip is
NOT duplicate-rule related (that would mean nondeterminism, not late dup
discovery).
"""

from __future__ import annotations

import argparse
import sys


def reconcile(spark, clips_path: str, stream_labels_path: str,
              output: str) -> tuple[int, int]:
    """Write the global batch labels of `clips_path` to `<output>/labels`
    and their diff against the streaming labels to `<output>/diff`;
    returns (label flips, flips not explained by a dup rule)."""
    from pyspark.sql import functions as F

    from engine import schema
    from engine.operators import pipeline
    from engine.streaming import reconcile as rec

    with pipeline.labeled(pipeline.read_clips(spark, clips_path)) as labels:
        (labels.repartition("part_id").write.mode("overwrite")
         .partitionBy("part_id").parquet(f"{output}/labels"))
    # diff the labels just written, as Stage B does: the uncached labels
    # frame would run flags, dedup and decision again
    corrected = spark.read.schema(schema.LABELS_SCHEMA) \
        .parquet(f"{output}/labels")
    diff = rec.diff(corrected, spark.read.parquet(stream_labels_path))
    # diff volume scales with the cross-batch dup rate (at 10^12 clips a
    # few-% rate is 10^10 rows), so no coalesce(1) here: keep the upstream
    # (AQE-sized) partitioning — unlike the O(n_parts)-bounded lineage/
    # report writes, this table is corpus-sized in the worst case
    diff.write.mode("overwrite").parquet(f"{output}/diff")

    d = spark.read.parquet(f"{output}/diff")
    return d.count(), d.where(~F.col("dup_related")).count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", required=True)
    ap.add_argument("--stream-labels", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from engine import session

    spark = session.get_or_create("clip-quality-reconcile")
    n_flips, n_bad = reconcile(spark, args.clips, args.stream_labels,
                               args.output)
    print(f"reconcile: {n_flips} label flips vs streaming "
          f"({n_flips - n_bad} dup-related, {n_bad} UNEXPLAINED)")
    spark.stop()
    if n_bad:
        print("ERROR: non-dup flips indicate nondeterminism", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
