"""Label-table compaction: fold per-micro-batch label directories into
one canonical partitioned table.

    spark-submit --py-files engine.zip jobs/compact_labels.py \
        --input /path/stream_out/data/labels --output /path/labels_canonical

Reference analog: the single CSV checkpoint the reference materializes
between phases (S2, Step1-Read-Data-Formatting.R:109) — generalized here
to a periodic rewrite that keeps the accumulated output scannable.

The streaming ingest writes labels under `labels/batch_id=N/part_id=K/`
(idempotent per-batch dirs — stream_pipeline).  Over days that is
thousands of small files per partition: a real 10^12-row operational
problem (file-listing time, scan task explosion).  Compaction rewrites
the accumulated rows as ONE canonical table partitioned by part_id with
one file per partition, keeping batch provenance as a column.  Defensive
dedup: if a non-idempotent writer ever double-appended a clip, the
highest batch_id row wins (deterministic).  Full overwrite — idempotent,
safe to re-run or schedule.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def compact(spark, input_path: str, output_path: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    labels = spark.read.parquet(input_path)
    if "batch_id" not in labels.columns:
        labels = labels.withColumn("batch_id", F.lit(0).cast("long"))
    w = Window.partitionBy("clip_id").orderBy(F.desc("batch_id"))
    canonical = (labels
                 .withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") == 1).drop("_rn")
                 .withColumn("part_id", F.col("part_id").cast("int")))
    (canonical.repartition("part_id")
     .write.mode("overwrite").partitionBy("part_id").parquet(output_path))
    return spark.read.parquet(output_path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from engine import session

    spark = session.get_or_create("clip-quality-compact")
    out = compact(spark, args.input, args.output)
    print(f"compacted {out.count()} label rows to {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
