"""Batch reconciliation for the streaming ingest path — the other half of
the lambda split documented in stream_pipeline: micro-batches detect
duplicates only WITHIN a batch, so a periodic batch job
(jobs/reconcile_dups.py) labels the scored rows of every batch at once —
Stage B over the stream's own scored/ table, no rescoring — and diffs
them against the streaming labels here.

Only the duplicate rules can legitimately flip between the streaming and
batch answers (per-clip rules are pure functions of the row); the diff
report quantifies exactly that, and the job refuses to silently accept any
other divergence — a non-dup flip means the engine is nondeterministic and
must surface as an error, not a correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config
from ..operators import scoring
from . import stream_pipeline

DUP_RULES = (config.RULE_EXACT_DUP, config.RULE_NEAR_DUP)


def _batch_ids(spark: SparkSession, path: str) -> set[int]:
    """N of every `batch_id=N` dir under `path`, listed on the driver
    through the Hadoop FileSystem API (no Spark job)."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    names = ([s.getPath().getName() for s in fs.listStatus(p)]
             if fs.exists(p) else [])
    return {int(n.split("=", 1)[1]) for n in names if n.startswith("batch_id=")}


def scored_batches(spark: SparkSession, stream_out: str) -> DataFrame:
    """The scored rows of every batch the stream at `stream_out` has
    labelled.  Raises ValueError naming the labelled batches with no scored
    batch at the current rule_version (written by an older engine):
    restream rather than mix rule versions."""
    scored = stream_pipeline.scored_dir(stream_out)
    labelled = _batch_ids(spark, f"{stream_out}/labels")
    missing = sorted(labelled - _batch_ids(spark, scored))
    if missing:
        raise ValueError(
            f"stream output {stream_out!r}: labels batches {missing} have no "
            f"scored batch at rule_version {config.rule_version()}; restream "
            "the input rather than mix rule versions")
    # a scored batch without labels is a micro-batch still in flight
    return (spark.read.schema(scoring.SCORED_SCHEMA).parquet(scored)
            .where(F.col("batch_id").isin(sorted(labelled))))


def diff(batch_labels: DataFrame, stream_labels: DataFrame) -> DataFrame:
    """One row per clip whose keep/drop_reason differs between the batch
    (authoritative) and the streaming labels, with a `dup_related` column;
    callers should alert on any row where it is False.  Compares labels
    only: pass the batch labels as written, so nothing is labelled again."""
    s = stream_labels.select(
        F.col("clip_id"),
        F.col("keep").alias("keep_stream"),
        F.col("drop_reason").alias("reason_stream"))
    b = batch_labels.select("clip_id", "keep", "drop_reason")
    changed = (b.join(s, "clip_id")
               .where((F.col("keep") != F.col("keep_stream"))
                      | ~(F.col("drop_reason").eqNullSafe(F.col("reason_stream")))))
    # a kept side's reason is null and `null IN (...)` is null, which
    # would hide a keep vs non-dup-drop flip from both counts
    dup_related = F.coalesce(F.col("drop_reason").isin(*DUP_RULES)
                             | F.col("reason_stream").isin(*DUP_RULES),
                             F.lit(False))
    return changed.select(
        "clip_id", "keep_stream", "reason_stream",
        F.col("keep").alias("keep_batch"),
        F.col("drop_reason").alias("reason_batch"),
        dup_related.alias("dup_related"))
