"""One scored->labels composition (pipeline.label) and the cache scope
around it (pipeline.labeled): batch, checkpointed job and stream all label
through `label`, and no path leaves a persisted scored table behind.

The test session is shared, so each leak check compares the count of
persisted RDDs before and after, not against zero."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from engine import config, fixtures, lineage
from engine.operators import pipeline
from engine.streaming import stateful, stream_pipeline


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def small_clips(spark, tmp_path_factory):
    """A ~300-clip table: one parquet file per occupied part_id."""
    clips_pd, _ = fixtures.generate_clips(300, seed=7, profile="test")
    path = str(tmp_path_factory.mktemp("label_scope") / "clips")
    fixtures.write_clips_parquet(spark, clips_pd, path)
    return path


def test_stream_releases_every_micro_batch(spark, small_clips, tmp_path):
    out = str(tmp_path / "out")
    before = _n_persisted(spark)
    q = stream_pipeline.start_stream(spark, small_clips, out,
                                     str(tmp_path / "ckpt"),
                                     available_now=True,
                                     max_files_per_trigger=32)
    q.awaitTermination(300)
    assert q.exception() is None
    assert len(os.listdir(f"{out}/labels")) >= 2  # batch_id=* dirs
    assert _n_persisted(spark) == before


def test_labeled_write_releases_cache(spark, small_clips, tmp_path):
    before = _n_persisted(spark)
    with pipeline.labeled(pipeline.read_clips(spark, small_clips)) as labels:
        assert _n_persisted(spark) == before + 1  # dedup reads the pin
        labels.write.parquet(str(tmp_path / "labels"))
    assert _n_persisted(spark) == before
    n_clips = pipeline.read_clips(spark, small_clips).count()
    assert spark.read.parquet(str(tmp_path / "labels")).count() == n_clips


def test_labeled_releases_cache_when_body_raises(spark, small_clips):
    before = _n_persisted(spark)
    with pytest.raises(RuntimeError, match="sink failed"):
        with pipeline.labeled(pipeline.read_clips(spark, small_clips)):
            raise RuntimeError("sink failed")
    assert _n_persisted(spark) == before


def test_batch_job_and_stream_share_label(spark, small_clips, tmp_path,
                                          monkeypatch):
    """Every scored->labels path goes through pipeline.label: the batch
    pass and Stage B with dup flags, the per-clip stream without."""
    calls: list[bool] = []  # the `dups` of each call
    real = pipeline.label

    def counting(scored, dups=True):
        calls.append(dups)
        return real(scored, dups=dups)

    monkeypatch.setattr(pipeline, "label", counting)
    clips = pipeline.read_clips(spark, small_clips)

    with pipeline.labeled(clips) as labels:
        labels.write.parquet(str(tmp_path / "batch"))
    assert calls == [True]

    lineage.run_checkpointed(spark, clips, str(tmp_path / "job"),
                             wave_size=64, log=lambda msg: None)
    assert calls == [True, True]

    per_clip = stateful.labeled_clip_stream(clips)
    assert calls == [True, True, False]
    dup_drops = F.col("drop_reason").isin(config.RULE_EXACT_DUP,
                                          config.RULE_NEAR_DUP)
    assert per_clip.where(dup_drops).count() == 0


def _py_sources(root: str):
    """(relative path, text) of every .py file outside perfbench/ and the
    hidden directories."""
    for top, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs
                   if not d.startswith(".") and d != "perfbench"]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(top, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, root), f.read()


def test_one_session_builder_and_one_label_composition():
    """Guard: sessions are built only by engine/session.py; inside engine/
    only pipeline.py composes flags and decision (tests of single operators
    may call them directly); and outside pipeline.py nothing in engine/ or
    jobs/ calls `run_pipeline`, which leaves its cache to the caller."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = re.compile(r"SparkSession\s*\.\s*" + "builder")
    composition = re.compile(
        r"^(?!\s*def ).*\b(with_heuristic_flags|with_decision)\(", re.M)
    unscoped = re.compile(r"^(?!\s*def ).*\brun_pipeline\(", re.M)
    pipeline_py = os.path.join("engine", "operators", "pipeline.py")
    builders, composers, unscoped_callers = [], [], []
    for rel, text in _py_sources(root):
        if builder.search(text):
            builders.append(rel)
        if rel.startswith("engine" + os.sep) and composition.search(text):
            composers.append(rel)
        if (rel.startswith(("engine" + os.sep, "jobs" + os.sep))
                and rel != pipeline_py and unscoped.search(text)):
            unscoped_callers.append(rel)
    assert builders == [os.path.join("engine", "session.py")]
    assert composers == [pipeline_py]
    assert unscoped_callers == []
