"""Explicit fixed schemas.

The reference's schema is implicit (positional column slices,
Step1-Read-Data-Formatting.R:6-8,53-54); we make it an explicit StructType
and reject drift at read time.  Shape per BASELINE.json `input_hint`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import config

CLIPS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), nullable=False),
    T.StructField("bytes", T.BinaryType(), nullable=True),
    T.StructField("sr_hz", T.IntegerType(), nullable=True),
    T.StructField("dur_ms", T.IntegerType(), nullable=True),
    T.StructField("codec", T.StringType(), nullable=True),
    T.StructField("transcript", T.StringType(), nullable=True),
    # physical partition column: part_id_col()
    T.StructField("part_id", T.IntegerType(), nullable=False),
])

LABELS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), nullable=False),
    T.StructField("part_id", T.IntegerType(), nullable=False),
    T.StructField("keep", T.BooleanType(), nullable=False),
    T.StructField("drop_reason", T.StringType(), nullable=True),
    T.StructField("rule_flags", T.MapType(T.StringType(), T.BooleanType()), nullable=False),
    T.StructField("lang", T.StringType(), nullable=True),
    T.StructField("lid_margin", T.DoubleType(), nullable=True),
    T.StructField("ppl_score", T.DoubleType(), nullable=True),
    T.StructField("scrubbed_transcript", T.StringType(), nullable=True),
    T.StructField("n_scrub_hits", T.IntegerType(), nullable=False),
    T.StructField("repaired", T.BooleanType(), nullable=False),
    T.StructField("decoded_dur_ms", T.IntegerType(), nullable=True),
    T.StructField("rms", T.DoubleType(), nullable=True),
    T.StructField("clipping_ratio", T.DoubleType(), nullable=True),
    T.StructField("silence_ratio", T.DoubleType(), nullable=True),
    T.StructField("pcm_checksum", T.StringType(), nullable=True),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType(), nullable=False),
    T.StructField("status", T.StringType(), nullable=False),
    T.StructField("n_total", T.LongType(), nullable=False),
    T.StructField("n_kept", T.LongType(), nullable=False),
    T.StructField("n_dropped", T.LongType(), nullable=False),
    T.StructField("drop_reason_counts", T.MapType(T.StringType(), T.LongType()), nullable=False),
    T.StructField("n_scrubbed", T.LongType(), nullable=False),
    T.StructField("n_repaired", T.LongType(), nullable=False),
    T.StructField("rule_version", T.StringType(), nullable=False),
])


def part_id_col() -> Column:
    """The engine's partitioner: part_id = pmod(xxhash64(clip_id), N_PARTS)."""
    return F.pmod(F.xxhash64("clip_id"), F.lit(config.N_PARTS)).cast("int")


def clips_frame(df: DataFrame) -> DataFrame:
    """A read clips table -> schema-asserted clips frame.  Partition-
    directory reads give part_id back as int32 or int64 depending on the
    writer; normalize it (when present), then verify."""
    dtypes = dict(df.dtypes)
    if "part_id" in dtypes and dtypes["part_id"] != "int":
        df = df.withColumn("part_id", df["part_id"].cast("int"))
    assert_clips_schema(df)
    return df


def assert_clips_schema(df) -> None:
    """Reject schema drift at read time (reference trusts positions blindly,
    Step1:6-8 — we do the opposite)."""
    expected = {f.name: f.dataType.simpleString() for f in CLIPS_SCHEMA.fields}
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = {k: v for k, v in expected.items() if actual.get(k) != v}
    if missing:
        raise ValueError(
            f"clips schema drift: expected {missing}, got "
            f"{ {k: actual.get(k) for k in missing} }"
        )
