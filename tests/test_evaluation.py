"""Step6-graft corpus report: one aggregation of the label counts per
language, cross-checked against pandas; a language with no drops reads 0
per rule, in the report and in the eval_report job."""

from __future__ import annotations

import pytest

from engine import config, schema
from engine.operators import evaluation, pipeline


@pytest.fixture(scope="module")
def t1_labels(spark, clips_t1, tmp_path_factory):
    """clips_t1's labels, and a labels dir of only its kept rows, both
    written as jobs/run_pipeline.py writes labels (part_id dirs)."""
    path, _, _ = clips_t1
    root = tmp_path_factory.mktemp("eval_labels")
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        labels.write.partitionBy("part_id").parquet(str(root / "all"))
    (spark.read.schema(schema.LABELS_SCHEMA).parquet(str(root / "all"))
     .where("keep").write.partitionBy("part_id").parquet(str(root / "kept")))
    return str(root / "all"), str(root / "kept")


def test_report_matches_pandas(spark, t1_labels):
    labels = spark.read.schema(schema.LABELS_SCHEMA).parquet(t1_labels[0])
    rep = evaluation.corpus_report(labels).toPandas()
    lp = labels.toPandas()

    # independent pandas cross-check of the headline numbers
    for row in rep.itertuples(index=False):
        grp = lp[lp["lang"] == row.lang]
        kept = grp[grp["keep"]]
        assert row.n_total == len(grp)
        assert row.n_kept == int(grp["keep"].sum())
        assert abs(row.keep_rate - grp["keep"].mean()) < 1e-6
        assert row.n_scrubbed == int((grp["n_scrub_hits"] > 0).sum())
        # a language with no kept clip has no mean (NaN on both sides)
        for got, col in ((row.avg_ppl_kept, "ppl_score"),
                         (row.avg_silence_kept, "silence_ratio")):
            assert got == pytest.approx(kept[col].mean(), abs=1e-4,
                                        nan_ok=True)
        reasons = dict(row.drop_reason_counts)
        dropped = grp[~grp["keep"]]["drop_reason"].value_counts().to_dict()
        for rule in config.RULE_ORDER:
            assert reasons[rule] == dropped.get(rule, 0)
    # every label row is accounted for exactly once
    assert rep["n_total"].sum() == len(lp)


def test_report_counts_zero_for_language_without_drops(spark, t1_labels):
    """A language with no dropped clip reads 0 per rule, never null."""
    kept = spark.read.schema(schema.LABELS_SCHEMA).parquet(t1_labels[1])
    rows = evaluation.corpus_report(kept).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] == r["n_total"] > 0
        assert r["drop_reason_counts"] == {rule: 0
                                           for rule in config.RULE_ORDER}


def test_eval_report_job_over_kept_labels(spark, t1_labels, tmp_path,
                                          monkeypatch, capsys):
    """jobs/eval_report.py prints and writes the report of a labels dir
    with no dropped row (its top-reasons line sorts the counts)."""
    import jobs.eval_report as job
    from engine import session

    monkeypatch.setattr(session, "get_or_create", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # the shared session
    out = str(tmp_path / "report")
    monkeypatch.setattr("sys.argv", ["eval_report.py",
                                     "--labels", t1_labels[1], "--out", out])
    assert job.main() == 0
    assert "top drop reasons" not in capsys.readouterr().out
    written = spark.read.parquet(out).collect()
    assert written and all(set(r["drop_reason_counts"].values()) == {0}
                           for r in written)


def test_report_by_dim_matches_pandas_and_broadcasts(spark, clips_t1):
    """Step6 demographics-join graft: the dim join must be a broadcast
    hash join, and the per-(region, device) rates must equal an
    independent pandas aggregation of the enriched labels."""
    from pyspark.sql import functions as F

    from engine import fixtures
    from engine.operators import evaluation, pipeline

    import re

    path, _, _ = clips_t1
    dim = spark.createDataFrame(fixtures.generate_speakers(50, seed=42))
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        rep = evaluation.corpus_report_by_dim(labels, dim, 50)
        plan = rep._jdf.queryExecution().executedPlan().toString()
        got = rep.toPandas().set_index(["region", "device"]).sort_index()
        rows = (labels
                .withColumn("speaker_id",
                            F.pmod(F.xxhash64("clip_id"), F.lit(50)).cast("int"))
                .select("clip_id", "speaker_id", "keep", "n_scrub_hits",
                        "repaired")
                .toPandas())

    # the DIM join must broadcast (upstream label lineage contains other
    # joins, e.g. dedup's band self-join — assert on the speaker_id join)
    assert re.search(r"BroadcastHashJoin \[speaker_id", plan), plan[:3000]
    assert not re.search(r"SortMergeJoin \[speaker_id", plan)

    # independent pandas recomputation from the enriched row-level frame
    enriched = rows.merge(fixtures.generate_speakers(50, seed=42),
                          on="speaker_id")
    exp = enriched.groupby(["region", "device"]).agg(
        n_total=("clip_id", "size"), n_kept=("keep", "sum"),
        n_scrubbed=("n_scrub_hits", lambda s: int((s > 0).sum())),
        n_repaired=("repaired", "sum")).sort_index()
    assert got["n_total"].tolist() == exp["n_total"].tolist()
    assert got["n_kept"].tolist() == exp["n_kept"].astype(int).tolist()
    assert got["n_scrubbed"].tolist() == exp["n_scrubbed"].tolist()
    assert got["n_repaired"].tolist() == exp["n_repaired"].astype(int).tolist()
    assert (abs(got["keep_rate"]
                - (exp["n_kept"] / exp["n_total"]).round(6)) < 1e-9).all()


def test_by_dim_partial_dim_surfaces_unknown(spark, clips_t1):
    """A dim table missing some speaker_ids must NOT silently drop label
    rows: uncovered rows aggregate under ('<unknown>', '<unknown>') and
    the report's n_total still sums to the full labels count."""
    from engine import fixtures
    from engine.operators import evaluation, pipeline

    path, _, _ = clips_t1
    # drop half the speakers from the dim
    speakers = fixtures.generate_speakers(50, seed=42)
    dim = spark.createDataFrame(speakers[speakers["speaker_id"] < 25])
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        n_labels = labels.count()
        rep = evaluation.corpus_report_by_dim(labels, dim, 50).toPandas()
    assert int(rep["n_total"].sum()) == n_labels
    unk = rep[(rep["region"] == "<unknown>") & (rep["device"] == "<unknown>")]
    assert len(unk) == 1 and int(unk["n_total"].iloc[0]) > 0
