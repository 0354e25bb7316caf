"""Before/after corpus evaluation — the Step6 graft.

The reference's evaluation pass (Step6-Evaluation.R) computes per-user
error-rate tables (Step6:7-39, split-by-UserId counting loops) and
before/after distribution comparisons (Step6:100-127).  The engine's analog
is a per-language quality report over the labels table: keep rate, per-rule
drop counts, scrub rate, score means — the numbers a corpus owner reads
after a cleaning run.  The counts are decision.label_counts, the same ones
the lineage rows carry.

Skew (north_rule: explicit handling): at 10^12 rows a head language can be
~50% of the corpus (LANG_WEIGHTS plants exactly that skew in the fixtures).
Every measure is algebraic (counts and sums), so Spark's partial
aggregation merges each task's rows map-side: the `lang` shuffle carries
one partial row per (task, language), and the head language's reducer
merges as many rows as there are tasks, not half the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import decision


def corpus_report(labels: DataFrame) -> DataFrame:
    """labels -> one row per lang: keep rate, drop_reason counts map,
    scrub rate, mean ppl / silence_ratio (Step6:7-39, 100-127 analog)."""
    # score means over KEPT rows only — the "after cleaning" view
    # (dropped rows carry sentinel scores, e.g. ppl 1e9 for empty text)
    agg = labels.groupBy("lang").agg(
        *decision.label_counts(),
        F.avg(F.when(F.col("keep"), F.col("ppl_score"))).alias("_ppl"),
        F.avg(F.when(F.col("keep"), F.col("silence_ratio"))).alias("_sil"))
    return (agg
            .select("lang", "n_total", "n_kept",
                    F.round(F.col("n_kept") / F.col("n_total"), 6)
                    .alias("keep_rate"),
                    "n_scrubbed",
                    F.round(F.col("n_scrubbed") / F.col("n_total"), 6)
                    .alias("scrub_rate"),
                    F.round("_ppl", 4).alias("avg_ppl_kept"),
                    F.round("_sil", 4).alias("avg_silence_kept"),
                    decision.reason_counts().alias("drop_reason_counts"))
            .orderBy("lang"))


def corpus_report_by_dim(labels: DataFrame, dim: DataFrame,
                         n_speakers: int) -> DataFrame:
    """Clips-side dimension enrichment — the Step6 demographics join graft
    (Step6-Evaluation.R:54-61 merges a per-user demographics table into
    the issue report with O(n*m) loops; here the small speaker/source
    dimension is BROADCAST into the labels table).

    speaker_id is hash-assigned from clip_id (pmod(xxhash64, n_speakers)) —
    the stand-in for real speaker metadata the input_hint schema doesn't
    carry — then the report aggregates keep/scrub rates per dim attribute.
    The dim is tiny (thousands of speakers vs 10^12 clips), so the join
    side is a broadcast, never a shuffle of the labels table."""
    enriched = (labels
                .withColumn("speaker_id",
                            F.pmod(F.xxhash64("clip_id"),
                                   F.lit(n_speakers)).cast("int"))
                # LEFT join + '<unknown>' bucket: an inner join would
                # silently drop (and under-count) every label row whose
                # speaker_id is missing from the dim — a dim smaller than
                # n_speakers must surface as an <unknown> row, not as a
                # wrong report
                .join(F.broadcast(dim), "speaker_id", "left")
                .withColumn("region", F.coalesce("region", F.lit("<unknown>")))
                .withColumn("device", F.coalesce("device", F.lit("<unknown>"))))
    agg = enriched.groupBy("region", "device").agg(*decision.label_counts())
    return (agg
            .withColumn("keep_rate",
                        F.round(F.col("n_kept") / F.col("n_total"), 6))
            .withColumn("scrub_rate",
                        F.round(F.col("n_scrubbed") / F.col("n_total"), 6))
            .select("region", "device", "n_total", "n_kept", "keep_rate",
                    "n_scrubbed", "scrub_rate", "n_repaired")
            .orderBy("region", "device"))
