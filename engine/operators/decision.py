"""Keep/drop decision: first failing rule in canonical order wins.

Graft of the reference's fixed script order (PostProcessing-Pipeline.R:
20-44): Step2 tombstones before Step3 models before Step5 dedup — here a
single `when()` chain over RULE_ORDER instead of six mutating passes.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config

LABEL_COLUMNS = [
    "clip_id", "part_id", "keep", "drop_reason", "rule_flags",
    "lang", "lid_margin", "ppl_score",
    "scrubbed_transcript", "n_scrub_hits", "repaired",
    "decoded_dur_ms", "rms", "clipping_ratio", "silence_ratio", "pcm_checksum",
]


def with_decision(df: DataFrame) -> DataFrame:
    """df with every f_<RULE> column -> + rule_flags map, drop_reason, keep."""
    reason = F.lit(None).cast("string")
    for rule in reversed(config.RULE_ORDER):
        reason = F.when(F.col(f"f_{rule}"), F.lit(rule)).otherwise(reason)
    flags_map = F.create_map(
        *chain.from_iterable((F.lit(r), F.col(f"f_{r}")) for r in config.RULE_ORDER))
    return df.withColumns({
        "rule_flags": flags_map,
        "drop_reason": reason,
        "keep": reason.isNull(),
    })


def to_labels(df: DataFrame) -> DataFrame:
    return df.select(*LABEL_COLUMNS)


def label_counts() -> list[Column]:
    """The label counts as aggregate Columns: n_total, n_kept, n_dropped,
    n_scrubbed, n_repaired and one `_n_<RULE>` drop count per rule — the
    per-user issue counts of Step6-Evaluation.R:7-39, defined once for the
    lineage rows and both corpus reports.  Every count is a `count_if`, so
    a group with no such row reads 0, never null.  All are algebraic, so
    Spark's partial aggregation merges them map-side before the shuffle."""
    return [
        F.count("*").alias("n_total"),
        F.count_if(F.col("keep")).alias("n_kept"),
        F.count_if(~F.col("keep")).alias("n_dropped"),
        F.count_if(F.col("n_scrub_hits") > 0).alias("n_scrubbed"),
        F.count_if(F.col("repaired")).alias("n_repaired"),
        *(F.count_if(F.col("drop_reason") == r).alias(f"_n_{r}")
          for r in config.RULE_ORDER)]


def reason_counts() -> Column:
    """rule -> drop count map over label_counts()' `_n_<RULE>` columns."""
    return F.map_from_arrays(
        F.array(*(F.lit(r) for r in config.RULE_ORDER)),
        F.array(*(F.col(f"_n_{r}") for r in config.RULE_ORDER)))


def lineage_metrics(labels: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (FIXTURES.md Table 3): the label
    counts per part_id in one aggregation, the reason map keeping only the
    reasons that occurred (empty for a part with no drops)."""
    return labels.groupBy("part_id").agg(*label_counts()).select(
        "part_id", F.lit("committed").alias("status"), "n_total", "n_kept",
        "n_dropped",
        F.map_filter(reason_counts(), lambda _, n: n > 0)
        .alias("drop_reason_counts"),
        "n_scrubbed", "n_repaired",
        F.lit(config.rule_version()).alias("rule_version"))
