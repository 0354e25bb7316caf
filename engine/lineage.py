"""Per-partition checkpoint/resume + lineage (north_rule requirement).

The reference's only checkpoint is one CSV between phases
(Step1-Read-Data-Formatting.R:109).  We generalize to partition-granular
resumability around the expensive stage:

  Stage A (heavy, resumable per part_id): the fused scoring UDF pass —
     decode + scrub + LID + PPL + simhash.  Processed in waves of
     part_ids; each wave is written with dynamic partition overwrite
     (idempotent) straight from the scan, with no reshuffle (the scan is
     already split along the part_id files), and then recorded in the
     commit log as one `scored` marker per part_id.  A partially-written
     wave whose markers never landed is simply overwritten by the next
     run (write-then-commit order).
  Stage B (cheap, global, idempotent): dup flags need GLOBAL hash groups
     (duplicates cross partitions), so they run over the full scored
     table — but only over ~100-byte rows (checksums + simhash), never
     the audio payload.  Labels (pipeline.label, the composition the
     in-memory pass uses) + lineage_metrics are then a full overwrite,
     safe to repeat.  Once the lineage write has finished, Stage B
     records one `labeled` marker per committed part_id (the same
     write-then-commit order).

The commit log is `<out>/_commits/`, one zero-byte marker file per commit:

    <stage>.<rule_version>.<part_id>.<uuid>     e.g.
    scored.b81a79d51244aefd.17.0f3c...e1

The name is the whole record; the uuid keeps repeated commits of one part
distinct, so they count.  The driver creates and lists markers through
the Hadoop FileSystem API (any fs the output lives on), so recording or
reading a commit never launches a Spark job.  A name that does not parse
raises, naming its path, instead of passing for an empty log and
rescoring everything.  A `_state/` parquet log left by an older engine is
not read: that output rescores once.

A resume reads the log before it touches the input.  With part_ids
committed, the pending input is `clips` minus those part_ids, a filter on
the partition column, so partition pruning leaves only uncommitted part
dirs to scan, and the remaining part_ids are a `distinct()` over it.  On
a finished output pruning leaves no file at all: the scan has no
partitions and the listing runs no Spark job.  A fresh run (empty log,
or `resume=False`) lists the part_ids of the whole input.

A resume skips Stage B — and returns readers over the committed labels/
and lineage/ — exactly when, at the current rule_version:
  1. no part_id of the input is left to score, and
  2. every committed part_id has at least as many `labeled` markers as
     `scored` markers, and
  3. labels/ and lineage/ both exist.
This is sound because Stage B is a pure function of scored/ plus
rule_version, and scored/ only changes through Stage A writes that are
each followed by a `scored` marker.  A resume never rewrites a committed
part (it is immutable to Stage A), so any Stage A write after the last
completed Stage B — a `resume=False` re-run, even an interrupted one —
leaves that part with more `scored` than `labeled` markers, and the next
resume runs Stage B again.  A Stage B that died before its `labeled`
markers leaves the counts short the same way.  Like the Stage A skip,
the rule assumes a committed part_id's input clips do not change between
runs at one rule_version.

Markers carry config.rule_version(), which hashes the thresholds AND the
label-determining source bytes (config.label_code_version) AND the
scored-schema field names: changing any threshold, any scoring/decision
code, or the fused UDF's output schema invalidates every checkpoint
automatically — a resume can never mix label semantics or read a
mixed-schema scored/ dir.

Every re-read declares its schema (scoring.SCORED_SCHEMA,
schema.LABELS_SCHEMA, schema.LINEAGE_SCHEMA), so none pays a schema-
inference job and part_id comes back as int without a cast.
"""

from __future__ import annotations

import uuid
from collections import Counter

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config, schema
from .operators import decision, pipeline, scoring

STAGES = ("scored", "labeled")


def _commit_dir(spark: SparkSession, output_path: str):
    """(Hadoop FileSystem, Path) of the output's commit log."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{output_path}/_commits")
    return path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), path


def _parse_marker(path: str) -> tuple[str, str, int]:
    """(stage, rule_version, part_id) of the marker file at `path`."""
    fields = path.rsplit("/", 1)[-1].split(".")
    if (len(fields) == 4 and fields[0] in STAGES and fields[2].isdigit()
            and fields[1] and fields[3]):
        return fields[0], fields[1], int(fields[2])
    raise ValueError(f"unparseable commit marker {path!r}: expected "
                     "<stage>.<rule_version>.<part_id>.<uuid>")


def _commit_counts(spark: SparkSession,
                   output_path: str) -> tuple[Counter, Counter]:
    """(scored, labeled) marker counts per part_id at the current
    rule_version, from one listing of the commit log.  A log that does not
    exist yet is empty."""
    fs, path = _commit_dir(spark, output_path)
    counts = {stage: Counter() for stage in STAGES}
    if not fs.exists(path):
        return counts["scored"], counts["labeled"]
    version = config.rule_version()
    for status in fs.listStatus(path):
        stage, rule_version, part_id = _parse_marker(
            status.getPath().toString())
        if rule_version == version:
            counts[stage][part_id] += 1
    return counts["scored"], counts["labeled"]


def committed_parts(spark: SparkSession, output_path: str) -> set[int]:
    return set(_commit_counts(spark, output_path)[0])


def _mark_committed(spark: SparkSession, output_path: str, parts: list[int],
                    stage: str = "scored") -> None:
    fs, path = _commit_dir(spark, output_path)
    jvm = spark.sparkContext._jvm
    version = config.rule_version()
    for p in parts:
        name = f"{stage}.{version}.{int(p)}.{uuid.uuid4().hex}"
        fs.createNewFile(jvm.org.apache.hadoop.fs.Path(path, name))


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

    n_scored, n_labeled = (_commit_counts(spark, output_path) if resume
                           else (Counter(), Counter()))
    done = set(n_scored)
    # a filter on the partition column: only uncommitted part dirs are
    # ever scanned, and with none left the listing runs no job at all
    pending = clips.where(~F.col("part_id").isin(sorted(done))) if done else clips
    todo = sorted(r.part_id for r in pending.select("part_id").distinct().collect())
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
