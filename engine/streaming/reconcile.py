"""Batch reconciliation for the streaming ingest path — the other half of
the lambda split documented in stream_pipeline: micro-batches detect
duplicates only WITHIN a batch, so a periodic batch job
(jobs/reconcile_dups.py) recomputes the global dup state over the
accumulated corpus, writes it as the corrected labels, and diffs them
against the streaming labels here.

Only the duplicate rules can legitimately flip between the streaming and
batch answers (per-clip rules are pure functions of the row); the diff
report quantifies exactly that, and the job refuses to silently accept any
other divergence — a non-dup flip means the engine is nondeterministic and
must surface as an error, not a correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config

DUP_RULES = (config.RULE_EXACT_DUP, config.RULE_NEAR_DUP)


def diff(batch_labels: DataFrame, stream_labels: DataFrame) -> DataFrame:
    """One row per clip whose keep/drop_reason differs between the batch
    (authoritative) and the streaming labels, with a `dup_related` column;
    callers should alert on any row where it is False.  Compares labels
    only: pass the batch labels as written, so nothing is scored again."""
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
