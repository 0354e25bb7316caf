"""Clips table source resolution — Iceberg when available, layout-
compatible partitioned parquet otherwise.

Reference analogs: the raw CSV scan S1 (Step1-Read-Data-Formatting.R:2-3,
explicit column handling) for `ingest_manifest`'s metadata side, and the
polyline-decode source S5 (Step1:16-32) for its payload side.

north_rule targets an Iceberg table of clip + transcript pairs.  This
sandbox ships no Iceberg runtime jar (verified: no iceberg-spark-runtime
on the classpath), so the engine's storage contract is defined at the
LAYOUT level and this module resolves either form to the same DataFrame:

  * `iceberg:<catalog.db.table>` — reads via `spark.table(...)`; requires
    iceberg-spark-runtime + a configured catalog on the cluster (the
    standard `--packages org.apache.iceberg:iceberg-spark-runtime-...`
    submit flag).  Missing runtime fails fast with an actionable message
    instead of a Py4J stack trace.
  * any other string — a partitioned-parquet path whose directory layout
    (`part_id=<k>/` identity partitions, dynamic-overwrite commits) is
    exactly what an identity-partitioned Iceberg table stores; migrating
    means `CALL catalog.system.add_files(...)`, no rewrite.

Every job takes `--input` through this resolver, so the same command
line works on both storages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schema

ICEBERG_PREFIX = "iceberg:"

# manifest CSV columns (the reference's CSV scan S1 grafted to multimodal
# ingest: scalar metadata in CSV, heavy payloads as files on disk)
MANIFEST_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("payload_file", T.StringType(), True),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
])


def ingest_manifest(spark: SparkSession, manifest_csv: str,
                    payload_root: str) -> DataFrame:
    """Multimodal ingest from a manifest: scalar columns from a CSV
    (explicit schema — never inferSchema on a production feed) joined with
    audio payloads read via Spark's `binaryFile` source, keyed by file
    name.  Produces the engine's clips shape with part_id stamped, ready
    for run_pipeline or a parquet/Iceberg write.

    Scale shape: binaryFile splits by file and prunes to (path, content);
    the join key is the unique file name, so it is a plain equi-join that
    AQE broadcasts when the manifest side is small.  Rows whose
    payload_file is null or missing on disk keep a null `bytes` column
    (the pipeline's missing-payload path), never an error."""
    m = (spark.read.schema(MANIFEST_SCHEMA)
         .option("header", True).csv(manifest_csv))
    payloads = (spark.read.format("binaryFile").load(payload_root)
                .select(F.element_at(F.split("path", "/"), -1).alias("payload_file"),
                        F.col("content").alias("bytes")))
    df = (m.join(payloads, "payload_file", "left")
          .withColumn("part_id", schema.part_id_col())
          .select("clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                  "transcript", "part_id"))
    schema.assert_clips_schema(df)
    return df


def read_clips_table(spark: SparkSession, ref: str) -> DataFrame:
    """`iceberg:<table>` or parquet path -> schema-asserted clips frame."""
    if ref.startswith(ICEBERG_PREFIX):
        table = ref[len(ICEBERG_PREFIX):]
        try:
            df = spark.table(table)
        except Exception as e:  # missing runtime/catalog or unknown table
            raise RuntimeError(
                f"cannot read iceberg table {table!r}: the Iceberg runtime "
                "and a catalog must be on the cluster classpath (submit with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-<ver> "
                "and spark.sql.catalog.* settings), or pass a partitioned-"
                f"parquet path instead ({e.__class__.__name__}: {e})"
            ) from e
    else:
        df = spark.read.parquet(ref)
    return schema.clips_frame(df)
