"""One scored->labels composition (pipeline.label) and the cache scope
around it (pipeline.labeled): batch, checkpointed job and stream all label
through `label`, and no path leaves a persisted scored table behind.

The test session is shared, so each leak check compares the count of
persisted RDDs before and after, not against zero."""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest

from engine import fixtures, lineage
from engine.operators import pipeline, scoring
from engine.streaming import stream_pipeline


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
    pass, Stage B of the checkpointed job and each stream micro-batch."""
    calls: list[int] = []
    real = pipeline.label

    def counting(scored):
        calls.append(1)
        return real(scored)

    monkeypatch.setattr(pipeline, "label", counting)
    clips = pipeline.read_clips(spark, small_clips)

    with pipeline.labeled(clips) as labels:
        labels.write.parquet(str(tmp_path / "batch"))
    assert len(calls) == 1

    lineage.run_checkpointed(spark, clips, str(tmp_path / "job"),
                             wave_size=64, log=lambda msg: None)
    assert len(calls) == 2

    out = str(tmp_path / "stream")
    q = stream_pipeline.start_stream(spark, small_clips, out,
                                     str(tmp_path / "ckpt"),
                                     available_now=True,
                                     max_files_per_trigger=1000)
    q.awaitTermination(300)
    assert q.exception() is None
    n_batches = len(os.listdir(f"{out}/labels"))  # batch_id=* dirs
    assert n_batches >= 1 and len(calls) == 2 + n_batches


def test_run_pipeline_pins_scored_for_the_caller(spark, small_clips):
    """run_pipeline gives the labels `labeled` gives and leaves exactly the
    scored table persisted; unpersisting the same scored plan releases it."""
    clips = pipeline.read_clips(spark, small_clips)
    before = _n_persisted(spark)
    got = pipeline.run_pipeline(clips).toPandas()
    assert _n_persisted(spark) == before + 1
    scoring.score_clips(clips).unpersist()
    assert _n_persisted(spark) == before
    with pipeline.labeled(clips) as labels:
        exp = labels.toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("clip_id").reset_index(drop=True),
        exp.sort_values("clip_id").reset_index(drop=True))


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
    may call them directly); `label` takes no switch, so no call passes it
    `dups=`; and outside pipeline.py `run_pipeline`, which leaves its cache
    to the caller, is called once, by the test that releases that cache
    (perfbench/, not scanned here, calls it too).  One dedup answer: in
    engine/ and jobs/ only pipeline.py calls `with_dup_flags`, and no
    module keeps dup state in a stateful stream operator.  The incremental
    path scores once: in engine/ and jobs/ only the fused pass
    (pipeline.py), Stage A (lineage.py), the stream's micro-batch
    (stream_pipeline.py) and refit call `score_clips`, and no job calls
    `labeled`, so reconcile labels the stream's scored rows instead of
    scoring the corpus again."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = re.compile(r"SparkSession\s*\.\s*" + "builder")
    composition = re.compile(
        r"^(?!\s*def ).*\b(with_heuristic_flags|with_decision)\(", re.M)
    # a `label(...)` call, one level of nested parentheses allowed
    dups_switch = re.compile(r"\blabel\((?:[^()]|\([^()]*\))*?\bdups\s*=")
    unscoped = re.compile(r"^(?!\s*def ).*\brun_pipeline\(", re.M)
    dedup_call = re.compile(r"^(?!\s*def ).*\bwith_dup_flags\(", re.M)
    stateful = re.compile(r"\bapplyInPandasWithState\b")
    scorer = re.compile(r"^(?!\s*def ).*\bscore_clips\(", re.M)
    labeled_call = re.compile(r"^(?!\s*def ).*\blabeled\(", re.M)
    pipeline_py = os.path.join("engine", "operators", "pipeline.py")
    builders, composers, switched, unscoped_calls = [], [], [], []
    deduppers, state_users, scorers, job_pinners = [], [], [], []
    for rel, text in _py_sources(root):
        if builder.search(text):
            builders.append(rel)
        if rel.startswith("engine" + os.sep) and composition.search(text):
            composers.append(rel)
        if rel.startswith(("engine" + os.sep, "jobs" + os.sep)):
            if dedup_call.search(text):
                deduppers.append(rel)
            if stateful.search(text):
                state_users.append(rel)
            if scorer.search(text):
                scorers.append(rel)
        if rel.startswith("jobs" + os.sep) and labeled_call.search(text):
            job_pinners.append(rel)
        if dups_switch.search(text):
            switched.append(rel)
        if rel != pipeline_py:
            unscoped_calls += [rel] * len(unscoped.findall(text))
    assert builders == [os.path.join("engine", "session.py")]
    assert composers == [pipeline_py]
    assert switched == []
    assert unscoped_calls == [os.path.join("tests", "test_label_scope.py")]
    assert deduppers == [pipeline_py]
    assert state_users == []
    assert sorted(scorers) == sorted([
        pipeline_py, os.path.join("engine", "lineage.py"),
        os.path.join("engine", "streaming", "stream_pipeline.py"),
        os.path.join("jobs", "refit_thresholds.py")])
    assert job_pinners == []


def test_one_definition_of_the_label_counts():
    """Guard: in engine/ and jobs/ only decision.py spells a per-rule drop
    count (`drop_reason == rule` or an `_n_<RULE>` column), so the lineage
    rows and both corpus reports aggregate decision.label_counts; and only
    dedup.py reads config.N_SALT (its null-checksum window), so no
    aggregation salts a key that partial aggregation already bounds."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rule_count = re.compile(r"""["']drop_reason["']\)\s*==|\b_n_\{""")
    salt = re.compile(r"\bconfig\.N_SALT\b")
    counters, salters = [], []
    for rel, text in _py_sources(root):
        if rel.startswith(("engine" + os.sep, "jobs" + os.sep)):
            if rule_count.search(text):
                counters.append(rel)
            if salt.search(text):
                salters.append(rel)
    assert counters == [os.path.join("engine", "operators", "decision.py")]
    assert salters == [os.path.join("engine", "operators", "dedup.py")]
