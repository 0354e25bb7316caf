"""The fused end-to-end pipeline (SURVEY.md §4.3).

    scan -> [native heuristic flags ∥ fused scoring UDF] -> dup flags
         -> decision -> labels

One DataFrame pass; the only shuffles are the two hash-group windows and
the band self-join inside dedup.  The reference needed six mutating passes
with CSV materialization between them (PostProcessing-Pipeline.R:20-44);
Catalyst fuses our scan + UDF + flag projection into a single stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .. import schema
from . import decision, dedup, heuristics, scoring


def read_clips(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    # partition-directory reads give part_id back as int32 or int64
    # depending on writer; normalize (when present) then verify
    dtypes = dict(df.dtypes)
    if "part_id" in dtypes and dtypes["part_id"] != "int":
        df = df.withColumn("part_id", df["part_id"].cast("int"))
    schema.assert_clips_schema(df)
    return df


def run_pipeline(clips: DataFrame, persist: bool = True) -> DataFrame:
    """clips (schema.CLIPS_SCHEMA) -> labels (schema.LABELS_SCHEMA order).

    `persist` pins the scored table (which no longer carries `bytes`, so it
    is ~100 bytes/row): the dedup stage references it from three plan
    branches (main + both sides of the band self-join), and without a
    materialization Spark re-executes the expensive Python UDF subtree once
    per branch.  The checkpointed job gets the same effect from the stage-A
    parquet materialization instead (lineage.run_checkpointed)."""
    scored = scoring.score_clips(clips)
    if persist:
        # eager: parallel dedup branches of one action would otherwise race
        # on the unfilled cache and re-execute the UDF subtree per branch
        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
        scored.count()
    # repair-then-rescore already happened INSIDE the scoring UDF
    # (repair.repair_batch, fused into scoring._score_batch): `transcript`
    # is the final (possibly normalized) text and `repaired` its lineage,
    # so heuristic flags, model flags, and dup grouping all see the
    # repaired values with no extra stage
    flagged = heuristics.with_model_flags(heuristics.with_heuristic_flags(scored))
    with_dups = dedup.with_dup_flags(flagged)
    decided = decision.with_decision(with_dups)
    return decision.to_labels(decided)

