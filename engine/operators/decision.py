"""Keep/drop decision: first failing rule in canonical order wins.

Graft of the reference's fixed script order (PostProcessing-Pipeline.R:
20-44): Step2 tombstones before Step3 models before Step5 dedup — here a
single `when()` chain over RULE_ORDER instead of six mutating passes.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame
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


def lineage_metrics(labels: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (FIXTURES.md Table 3) — graft of
    the per-user issue counts of Step6-Evaluation.R:7-39 at the engine's
    checkpoint granularity.  One aggregation: every rule's drop count is
    summed as its own `_n_<RULE>` column, then folded into a map that keeps
    only the reasons that occurred (empty for a part with no drops)."""
    agg = labels.groupBy("part_id").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sum((F.col("n_scrub_hits") > 0).cast("long")).alias("n_scrubbed"),
        F.sum(F.col("repaired").cast("long")).alias("n_repaired"),
        *(F.count_if(F.col("drop_reason") == r).alias(f"_n_{r}")
          for r in config.RULE_ORDER))
    reason_counts = F.map_filter(
        F.map_from_arrays(
            F.array(*(F.lit(r) for r in config.RULE_ORDER)),
            F.array(*(F.col(f"_n_{r}") for r in config.RULE_ORDER))),
        lambda _, n: n > 0)
    return agg.select(
        "part_id", F.lit("committed").alias("status"), "n_total", "n_kept",
        "n_dropped", reason_counts.alias("drop_reason_counts"), "n_scrubbed",
        "n_repaired", F.lit(config.rule_version()).alias("rule_version"))
