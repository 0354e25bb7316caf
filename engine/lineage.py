"""Per-partition checkpoint/resume + lineage (north_rule requirement).

The reference's only checkpoint is one CSV between phases
(Step1-Read-Data-Formatting.R:109).  We generalize to partition-granular
resumability around the expensive stage:

  Stage A (heavy, resumable per part_id): the fused scoring UDF pass —
     decode + scrub + LID + PPL + simhash.  Processed in waves of
     part_ids; each wave is written with dynamic partition overwrite
     (idempotent) straight from the scan, with no reshuffle (the scan is
     already split along the part_id files), and then recorded in a
     `_state` parquet as one `scored` row per part_id.  Commit rows are
     built in the JVM (spark.range + explode of literals), so recording a
     commit never starts a Python worker.  A re-run skips committed
     partitions; a partially-written wave whose state row never landed
     is simply overwritten (write-then-commit order).
  Stage B (cheap, global, idempotent): dup flags need GLOBAL hash groups
     (duplicates cross partitions), so they run over the full scored
     table — but only over ~100-byte rows (checksums + simhash), never
     the audio payload.  Labels (pipeline.label, the composition the
     in-memory pass uses) + lineage_metrics are then a full overwrite,
     safe to repeat.  Once the lineage write has finished, Stage B
     appends one `labeled` row per committed part_id to the same
     `_state` log (the same write-then-commit order).

A resume skips Stage B — and returns readers over the committed labels/
and lineage/ — exactly when, at the current rule_version:
  1. no part_id of the input is left to score, and
  2. every committed part_id has at least as many `labeled` rows as
     `scored` rows, and
  3. labels/ and lineage/ both exist.
This is sound because Stage B is a pure function of scored/ plus
rule_version, and scored/ only changes through Stage A writes that are
each followed by a `scored` row.  A resume never rewrites a committed
part (it is immutable to Stage A), so any Stage A write after the last
completed Stage B — a `resume=False` re-run, even an interrupted one —
leaves that part with more `scored` than `labeled` rows, and the next
resume runs Stage B again.  A Stage B that died before its `labeled`
append leaves the counts short the same way.  Like the Stage A skip, the
rule assumes a committed part_id's input clips do not change between runs
at one rule_version.

State rows carry config.rule_version(), which hashes the thresholds AND
the label-determining source bytes (config.label_code_version) AND the
scored-schema field names: changing any threshold, any scoring/decision
code, or the fused UDF's output schema invalidates every checkpoint
automatically — a resume can never mix label semantics or read a
mixed-schema scored/ dir.

Every re-read declares its schema (STATE_SCHEMA, scoring.SCORED_SCHEMA,
schema.LABELS_SCHEMA, schema.LINEAGE_SCHEMA), so none pays a schema-
inference job and part_id comes back as int without a cast.
"""

from __future__ import annotations

from collections import Counter

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import config, schema
from .operators import decision, pipeline, scoring

STATE_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("rule_version", T.StringType(), False),
])


def _state_path(output_path: str) -> str:
    return f"{output_path}/_state"


def _commit_counts(spark: SparkSession,
                   output_path: str) -> tuple[Counter, Counter]:
    """(scored, labeled) commit-row counts per part_id at the current
    rule_version, from one read of the `_state` log.  A log that does not
    exist yet is empty; any other read failure (a corrupt file) raises
    rather than passing for an empty log and rescoring everything."""
    try:
        st = spark.read.schema(STATE_SCHEMA).parquet(_state_path(output_path))
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return Counter(), Counter()
    rows = (st.where(F.col("rule_version") == config.rule_version())
            .select("part_id", "stage").collect())
    return (Counter(r.part_id for r in rows if r.stage == "scored"),
            Counter(r.part_id for r in rows if r.stage == "labeled"))


def committed_parts(spark: SparkSession, output_path: str) -> set[int]:
    return set(_commit_counts(spark, output_path)[0])


def _mark_committed(spark: SparkSession, output_path: str, parts: list[int],
                    stage: str = "scored") -> None:
    # rows built in the JVM: createDataFrame over a Python list
    # parallelizes pickled rows, which starts a second Python worker
    # daemon just to write a few ints
    part_ids = F.array(*(F.lit(int(p)) for p in parts)).cast("array<int>")
    (spark.range(1, numPartitions=1)
     .select(F.explode(part_ids).alias("part_id"),
             F.lit(stage).alias("stage"),
             F.lit(config.rule_version()).alias("rule_version"))
     .write.mode("append").parquet(_state_path(output_path)))


def _read_labels(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.schema(schema.LABELS_SCHEMA).parquet(f"{output_path}/labels")


def _read_outputs(spark: SparkSession,
                  output_path: str) -> tuple[DataFrame, DataFrame]:
    """(labels, lineage_metrics) readers over the committed output; raises
    AnalysisException PATH_NOT_FOUND when either directory is missing."""
    return (_read_labels(spark, output_path),
            spark.read.schema(schema.LINEAGE_SCHEMA)
            .parquet(f"{output_path}/lineage"))


def run_checkpointed(spark: SparkSession, clips: DataFrame, output_path: str,
                     wave_size: int = 16, resume: bool = True,
                     log=print) -> tuple[DataFrame, DataFrame]:
    """Full pipeline with per-partition checkpointing.

    Returns (labels, lineage_metrics) DataFrames reading the final output.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    scored_path = f"{output_path}/scored"

    all_parts = sorted(r.part_id for r in
                       clips.select("part_id").distinct().collect())
    n_scored, n_labeled = (_commit_counts(spark, output_path) if resume
                           else (Counter(), Counter()))
    done = set(n_scored)
    todo = [p for p in all_parts if p not in done]
    if done:
        log(f"resume: {len(done)} partitions already scored, {len(todo)} to go")
        if not todo and all(n_labeled[p] >= n for p, n in n_scored.items()):
            try:
                outputs = _read_outputs(spark, output_path)
            except AnalysisException as e:
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
            else:
                log("resume: labels and lineage up to date, Stage B skipped")
                return outputs

    # ---- Stage A: heavy UDF pass, wave by wave ---------------------------
    for i in range(0, len(todo), wave_size):
        wave = todo[i:i + wave_size]
        wave_df = clips.where(F.col("part_id").isin([int(p) for p in wave]))
        # no repartition: the scan is already split along the part_id
        # files, so an exchange would only add a job per wave
        (scoring.score_clips(wave_df)
         .write.mode("overwrite").partitionBy("part_id").parquet(scored_path))
        _mark_committed(spark, output_path, wave)
        log(f"scored wave {i // wave_size + 1}: partitions {wave[0]}..{wave[-1]}")

    # ---- Stage B: global dup flags + decision (cheap, idempotent) --------
    scored_all = spark.read.schema(scoring.SCORED_SCHEMA).parquet(scored_path)
    # repair is fused into the Stage-A scoring UDF (scored rows already
    # carry the repaired transcript + `repaired`), so Stage B is all-native
    (pipeline.label(scored_all).repartition("part_id")
     .write.mode("overwrite").partitionBy("part_id")
     .parquet(f"{output_path}/labels"))

    metrics = decision.lineage_metrics(_read_labels(spark, output_path))
    metrics.coalesce(1).write.mode("overwrite").parquet(f"{output_path}/lineage")
    _mark_committed(spark, output_path, sorted(done.union(todo)), "labeled")

    return _read_outputs(spark, output_path)
