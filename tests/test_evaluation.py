"""Step6-graft corpus report: salted two-phase agg == unsalted == pandas."""

from __future__ import annotations

from engine import config
from engine.operators import evaluation, pipeline


def test_salted_report_matches_unsalted_and_pandas(spark, clips_t1):
    path, _, _ = clips_t1
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        salted = evaluation.corpus_report(labels, salted=True).toPandas()
        plain = evaluation.corpus_report(labels, salted=False).toPandas()
        lp = labels.toPandas()

    assert list(salted.columns) == list(plain.columns)
    s = salted.drop(columns=["drop_reason_counts"]).reset_index(drop=True)
    p = plain.drop(columns=["drop_reason_counts"]).reset_index(drop=True)
    assert s.equals(p), "salted two-phase agg must be exact"
    for a, b in zip(salted["drop_reason_counts"], plain["drop_reason_counts"]):
        assert dict(a) == dict(b)

    # independent pandas cross-check of the headline numbers
    for row in salted.itertuples(index=False):
        grp = lp[lp["lang"] == row.lang]
        assert row.n_total == len(grp)
        assert row.n_kept == int(grp["keep"].sum())
        assert abs(row.keep_rate - grp["keep"].mean()) < 1e-6
        reasons = dict(row.drop_reason_counts)
        dropped = grp[~grp["keep"]]["drop_reason"].value_counts().to_dict()
        for rule in config.RULE_ORDER:
            assert reasons[rule] == dropped.get(rule, 0)
    # every label row is accounted for exactly once
    assert salted["n_total"].sum() == len(lp)


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
