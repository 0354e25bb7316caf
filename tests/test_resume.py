"""Checkpoint/resume convergence (SURVEY §5.2-5): interrupt after k of m
waves -> rerun -> identical final labels, no double-processing; a re-run
on a committed output is a no-op unless something was scored since."""

from __future__ import annotations

import os
import re
import shutil
import uuid
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import config, lineage
from engine.operators import dedup, pipeline, scoring


def _frames(labels, metrics) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Order-free pandas views of (labels, lineage_metrics)."""
    a = labels.toPandas().sort_values("clip_id").reset_index(drop=True)
    m = metrics.toPandas().sort_values("part_id").reset_index(drop=True)
    # map entry order is not part of the contract
    m["drop_reason_counts"] = m["drop_reason_counts"].map(
        lambda x: sorted(dict(x).items()))
    return a, m


@pytest.fixture(scope="module")
def committed(spark, clips_t1, tmp_path_factory):
    """One uninterrupted run: (output dir, clips, labels, lineage)."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    out = str(tmp_path_factory.mktemp("resume") / "full")
    labels, metrics = lineage.run_checkpointed(spark, clips, out, wave_size=64)
    return (out, clips, *_frames(labels, metrics))


def _copy(committed, tmp_path) -> str:
    out = str(tmp_path / "out")
    shutil.copytree(committed[0], out)
    return out


@contextmanager
def _spark_jobs(spark):
    """Yields a list that holds, once the block exits, the ids of the
    Spark jobs it ran."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    group = f"test-resume-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _markers(out: str) -> list[str]:
    return [n for n in os.listdir(os.path.join(out, "_commits"))
            if not n.endswith(".crc")]


def _parts_to_score(spark, clips, out, monkeypatch) -> list[int]:
    """The part_ids a resume on `out` sends to Stage A; its first wave
    stops the run before anything is scored."""
    class Rescoring(Exception):
        pass

    rescored = []

    def record(wave_df):
        rescored.extend(r.part_id for r in
                        wave_df.select("part_id").distinct().collect())
        raise Rescoring

    monkeypatch.setattr(scoring, "score_clips", record)
    with pytest.raises(Rescoring):
        lineage.run_checkpointed(spark, clips, out, wave_size=64)
    return sorted(rescored)


def _count_stage_b(monkeypatch) -> list:
    calls = []
    real = dedup.with_dup_flags
    monkeypatch.setattr(dedup, "with_dup_flags",
                        lambda df: calls.append(1) or real(df))
    return calls


def _forbid_stage_b(monkeypatch) -> None:
    def boom(df):
        raise AssertionError("Stage B ran on an up-to-date output")
    monkeypatch.setattr(dedup, "with_dup_flags", boom)


def test_partial_then_resume_identical(spark, committed, tmp_path):
    _, clips, labels_a, _ = committed

    # simulate an interrupted run: stage A committed for only the first wave
    out_b = str(tmp_path / "partial")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    first_wave = list(range(16))
    wave_df = clips.where(F.col("part_id").isin(first_wave))
    (scoring.score_clips(wave_df).repartition("part_id")
     .write.mode("overwrite").partitionBy("part_id")
     .parquet(f"{out_b}/scored"))
    lineage._mark_committed(spark, out_b, first_wave)

    assert lineage.committed_parts(spark, out_b) == set(first_wave)

    # resume: must only process the remaining partitions, then converge
    seen = []
    labels_b, metrics_b = lineage.run_checkpointed(
        spark, clips, out_b, wave_size=64, log=seen.append)
    assert any("48 to go" in s for s in seen), seen

    pd.testing.assert_frame_equal(labels_a, _frames(labels_b, metrics_b)[0])


def test_commit_rows_need_no_python_worker(spark, committed, tmp_path,
                                          monkeypatch):
    """Commits start no Python worker: with createDataFrame (which ships
    Python rows through a worker) unavailable, a fresh run and a resume
    that labels again both complete, with the same labels."""
    from pyspark.sql import SparkSession

    _, clips, labels_a, metrics_a = committed

    def no_python_rows(*args, **kwargs):
        raise AssertionError("commit rows went through createDataFrame")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_python_rows)
    out = str(tmp_path / "fresh")
    lineage.run_checkpointed(spark, clips, out, wave_size=32)
    shutil.rmtree(os.path.join(out, "lineage"))
    labels, metrics = lineage.run_checkpointed(spark, clips, out, wave_size=32)
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)
    assert lineage.committed_parts(spark, out) == set(range(64))


def test_rerun_on_committed_output_skips_stage_b(spark, committed, tmp_path,
                                                  monkeypatch):
    _, clips, labels_a, metrics_a = committed
    out = _copy(committed, tmp_path)
    _forbid_stage_b(monkeypatch)
    seen = []
    labels, metrics = lineage.run_checkpointed(spark, clips, out,
                                               wave_size=64, log=seen.append)
    assert any("Stage B skipped" in s for s in seen), seen
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)


def test_scored_commit_after_last_labeled_reruns_stage_b(
        spark, committed, tmp_path, monkeypatch):
    """An interrupted resume=False re-run rewrote (and committed) parts
    0..1 but died before its Stage B: those parts now carry more `scored`
    than `labeled` rows, so the next resume must label again."""
    _, clips, labels_a, metrics_a = committed
    out = _copy(committed, tmp_path)
    lineage._mark_committed(spark, out, [0, 1])
    calls = _count_stage_b(monkeypatch)
    labels, metrics = lineage.run_checkpointed(spark, clips, out, wave_size=64)
    assert calls
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)

    # that Stage B recorded itself: the next resume is a no-op again
    _forbid_stage_b(monkeypatch)
    lineage.run_checkpointed(spark, clips, out, wave_size=64)


@pytest.mark.parametrize("gone", ["labels", "lineage"])
def test_missing_output_dir_reruns_stage_b(spark, committed, tmp_path,
                                           monkeypatch, gone):
    _, clips, labels_a, metrics_a = committed
    out = _copy(committed, tmp_path)
    shutil.rmtree(os.path.join(out, gone))
    calls = _count_stage_b(monkeypatch)
    labels, metrics = lineage.run_checkpointed(spark, clips, out, wave_size=64)
    assert calls
    assert os.path.isdir(os.path.join(out, gone))
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)


def test_rule_version_change_invalidates(spark, clips_t1, tmp_path, monkeypatch):
    path, _, _ = clips_t1
    out = str(tmp_path / "ver")
    lineage._mark_committed(spark, out, [0, 1, 2])
    assert lineage.committed_parts(spark, out) == {0, 1, 2}
    monkeypatch.setattr(config, "rule_version", lambda: "different!")
    assert lineage.committed_parts(spark, out) == set()


def test_rule_version_change_rescores_everything(spark, committed, tmp_path,
                                                 monkeypatch):
    """Committed `scored` and `labeled` rows of another rule_version count
    for nothing: the resume rescores every part instead of skipping."""
    _, clips, _, _ = committed
    out = _copy(committed, tmp_path)
    monkeypatch.setattr(config, "rule_version", lambda: "different!")
    assert _parts_to_score(spark, clips, out, monkeypatch) == list(range(64))


def test_corrupt_state_raises_instead_of_rescoring(spark, committed, tmp_path,
                                                   monkeypatch):
    """A commit marker whose name does not parse raises, naming its path,
    instead of passing for an empty log and rescoring everything."""
    _, clips, _, _ = committed
    out = _copy(committed, tmp_path)

    def rescore(wave_df):
        raise AssertionError("a corrupt commit log read as an empty one")

    monkeypatch.setattr(scoring, "score_clips", rescore)
    version = config.rule_version()
    for name in ("notes.txt", f"scored.{version}.7",
                 f"scored.{version}.seven.{uuid.uuid4().hex}",
                 f"merged.{version}.7.{uuid.uuid4().hex}"):
        marker = os.path.join(out, "_commits", name)
        open(marker, "w").close()
        with pytest.raises(ValueError, match=re.escape(marker)):
            lineage.committed_parts(spark, out)
        with pytest.raises(ValueError, match=re.escape(marker)):
            lineage.run_checkpointed(spark, clips, out, wave_size=64)
        os.remove(marker)


def test_noop_resume_runs_no_spark_job(spark, committed, tmp_path):
    """A resume on a finished 64-part output lists the commit log through
    the driver's FileSystem, finds nothing pending by partition pruning
    (a scan over no files) and lists labels/ and lineage/ in the driver:
    no Spark job at all."""
    _, clips, labels_a, metrics_a = committed
    out = _copy(committed, tmp_path)
    seen = []
    with _spark_jobs(spark) as jobs:
        labels, metrics = lineage.run_checkpointed(
            spark, clips, out, wave_size=64, log=seen.append)
    assert jobs == [], jobs
    assert any("Stage B skipped" in s for s in seen), seen
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)


def test_fresh_run_commits_after_data_without_spark_jobs(
        spark, committed, tmp_path, monkeypatch):
    """Every marker lands after the data it commits (the part dirs of its
    wave in scored/; for `labeled`, labels/ and lineage/), and recording or
    reading commits runs no Spark job: a fresh two-wave run over the 64
    parts runs exactly 13 jobs."""
    _, clips, labels_a, metrics_a = committed
    out = str(tmp_path / "fresh")
    real = lineage._mark_committed
    recorded = []

    def mark_after_data(spark_, output_path, parts, stage="scored"):
        data = "scored" if stage == "scored" else "labels"
        for p in parts:
            assert os.path.isdir(os.path.join(
                output_path, data, f"part_id={p}")), (stage, p)
        if stage == "labeled":
            assert os.path.exists(os.path.join(
                output_path, "lineage", "_SUCCESS"))
        with _spark_jobs(spark_) as jobs:
            real(spark_, output_path, parts, stage)
        assert jobs == [], jobs
        recorded.append((stage, len(parts)))

    monkeypatch.setattr(lineage, "_mark_committed", mark_after_data)
    with _spark_jobs(spark) as jobs:
        labels, metrics = lineage.run_checkpointed(spark, clips, out,
                                                   wave_size=32)
    assert recorded == [("scored", 32), ("scored", 32), ("labeled", 64)]
    assert len(jobs) == 13, jobs
    assert len(_markers(out)) == 128
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)


def test_partial_resume_scans_only_uncommitted_parts(spark, committed,
                                                     clips_t1, tmp_path):
    """A run died after committing parts 0..47: the resume scores exactly
    parts 48..63, and neither its discovery nor its waves read a committed
    part's input files (they are garbage here, so any read would fail)."""
    _, _, labels_a, metrics_a = committed
    out = _copy(committed, tmp_path)
    for name in _markers(out):
        if int(name.split(".")[2]) >= 48:
            os.remove(os.path.join(out, "_commits", name))
    src = str(tmp_path / "clips")
    shutil.copytree(clips_t1[0], src)
    clips = pipeline.read_clips(spark, src)
    for p in range(48):
        part_dir = os.path.join(src, f"part_id={p}")
        for name in os.listdir(part_dir):
            path = os.path.join(part_dir, name)
            if name.endswith(".crc"):
                os.remove(path)
            else:
                with open(path, "r+b") as f:
                    f.write(b"\0" * os.path.getsize(path))

    seen = []
    labels, metrics = lineage.run_checkpointed(spark, clips, out,
                                               wave_size=64, log=seen.append)
    assert any("48 partitions already scored, 16 to go" in s for s in seen), seen
    scored = lineage._commit_counts(spark, out)[0]
    assert scored == {p: 1 for p in range(64)}
    labels_b, metrics_b = _frames(labels, metrics)
    pd.testing.assert_frame_equal(labels_a, labels_b)
    pd.testing.assert_frame_equal(metrics_a, metrics_b)


def test_old_state_log_is_ignored(spark, committed, tmp_path, monkeypatch):
    """A `_state/` parquet log left by an older engine is not read: with no
    `_commits/`, the output counts as uncommitted and rescores in full."""
    _, clips, _, _ = committed
    out = _copy(committed, tmp_path)
    shutil.rmtree(os.path.join(out, "_commits"))
    (spark.range(64).selectExpr("cast(id as int) as part_id",
                                "'scored' as stage",
                                f"'{config.rule_version()}' as rule_version")
     .write.parquet(os.path.join(out, "_state")))
    assert lineage.committed_parts(spark, out) == set()
    assert _parts_to_score(spark, clips, out, monkeypatch) == list(range(64))
