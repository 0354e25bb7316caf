"""The fused end-to-end pipeline (SURVEY.md §4.3), and the one place that
turns scored rows into labels.

    scan -> [native heuristic flags ∥ fused scoring UDF] -> dup flags
         -> decision -> labels

One DataFrame pass; the only shuffles are the two hash-group windows and
the band self-join inside dedup.  The reference needed six mutating passes
with CSV materialization between them (PostProcessing-Pipeline.R:20-44);
Catalyst fuses our scan + UDF + flag projection into a single stage.

`label` is that fixed composition after scoring.  Every path goes through
it: the in-memory pass (`labeled`, `run_pipeline`), each micro-batch of
the stream (streaming.stream_pipeline.start_stream, over the scored batch
it has just written), Stage B of the checkpointed job
(lineage.run_checkpointed) and the stream's reconcile job.

The scored table is pinned before dedup: dedup references it from three
plan branches (main + both sides of the band self-join), and without a
materialization Spark re-executes the Python UDF subtree once per branch.
`labeled` owns that cache and releases it when its `with` block exits,
normally or by an exception; `run_pipeline` leaves it to the caller.  The
checkpointed job gets the same effect from the Stage-A parquet instead.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .. import schema
from . import decision, dedup, heuristics, scoring


def read_clips(spark: SparkSession, path: str) -> DataFrame:
    return schema.clips_frame(spark.read.parquet(path))


def label(scored: DataFrame) -> DataFrame:
    """scored (scoring.SCORED_SCHEMA) -> labels (decision.LABEL_COLUMNS)."""
    # repair-then-rescore already happened INSIDE the scoring UDF
    # (repair.repair_batch, fused into scoring._score_batch): `transcript`
    # is the final (possibly normalized) text and `repaired` its lineage,
    # so heuristic flags, model flags, and dup grouping all see the
    # repaired values with no extra stage
    flagged = dedup.with_dup_flags(
        heuristics.with_model_flags(heuristics.with_heuristic_flags(scored)))
    return decision.to_labels(decision.with_decision(flagged))


def _pin(scored: DataFrame) -> DataFrame:
    # eager: parallel dedup branches of one action would otherwise race
    # on the unfilled cache and re-execute the UDF subtree per branch
    scored.persist(StorageLevel.MEMORY_AND_DISK).count()
    return scored


@contextmanager
def labeled(clips: DataFrame) -> Iterator[DataFrame]:
    """clips (schema.CLIPS_SCHEMA) -> labels, scored table cached for the
    `with` block only:

        with pipeline.labeled(clips) as labels:
            labels.write.parquet(out)
    """
    scored = scoring.score_clips(clips)
    try:
        yield label(_pin(scored))
    finally:
        scored.unpersist()


def run_pipeline(clips: DataFrame) -> DataFrame:
    """clips (schema.CLIPS_SCHEMA) -> labels, scored table left cached.
    The caller owns that cache (`scoring.score_clips(clips).unpersist()`
    releases it); prefer `labeled`, which releases it itself."""
    return label(_pin(scoring.score_clips(clips)))
