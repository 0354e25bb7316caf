"""Multimodal ingest job: manifest CSV + payload files -> clips table.

    spark-submit --py-files engine.zip jobs/ingest_manifest.py \
        --manifest /path/manifest.csv --payloads /path/payload_dir \
        --output /path/clips_table

Scalar metadata comes from the manifest (explicit schema), audio bytes
from Spark's binaryFile source keyed by file name; the output is the
engine's partitioned clips layout (part_id identity partitions), ready
for jobs/run_pipeline.py or an Iceberg add_files migration.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--payloads", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from engine import session, sources

    spark = session.get_or_create("clip-quality-ingest")

    clips = sources.ingest_manifest(spark, args.manifest, args.payloads)
    (clips.repartition("part_id").write.mode("overwrite")
     .partitionBy("part_id").parquet(args.output))
    n = spark.read.parquet(args.output).count()
    print(f"ingested {n} clips to {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
