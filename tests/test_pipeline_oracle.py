"""End-to-end correctness gates: engine vs pure-pandas oracle.

BASELINE.json gates: keep/drop F1 >= 0.99 (we assert exact agreement),
drop_reason exact match, scrubbed-transcript exact string equality.
"""

from __future__ import annotations

import pandas as pd

from engine.operators import pipeline
from tests import oracle


def _f1(y_true, y_pred) -> float:
    tp = sum(1 for t, p in zip(y_true, y_pred) if t and p)
    fp = sum(1 for t, p in zip(y_true, y_pred) if not t and p)
    fn = sum(1 for t, p in zip(y_true, y_pred) if t and not p)
    if tp == 0:
        return 0.0
    prec, rec = tp / (tp + fp), tp / (tp + fn)
    return 2 * prec * rec / (prec + rec)


def _run_engine(spark, path: str) -> pd.DataFrame:
    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        return labels.toPandas().sort_values("clip_id").reset_index(drop=True)


def test_engine_matches_oracle_t1(spark, clips_t1):
    path, clips_pd, planted = clips_t1
    eng = _run_engine(spark, path)
    ora = oracle.label_clips(clips_pd)

    assert len(eng) == len(ora)
    assert (eng["clip_id"].values == ora["clip_id"].values).all()

    # keep/drop: gate is F1 >= 0.99; we expect exact agreement
    f1 = _f1(ora["keep"].tolist(), eng["keep"].tolist())
    assert f1 >= 0.99, f"keep/drop F1 {f1}"
    mismatch = eng.loc[eng["keep"] != ora["keep"], "clip_id"]
    assert mismatch.empty, f"keep mismatches: {mismatch.tolist()[:10]}"

    # drop_reason exact
    dr_eng = eng["drop_reason"].fillna("<keep>")
    dr_ora = ora["drop_reason"].fillna("<keep>")
    bad = eng.loc[dr_eng.values != dr_ora.values, "clip_id"].tolist()
    assert not bad, f"drop_reason mismatches: {bad[:10]}"

    # scrubbed transcript: exact string equality
    se = eng["scrubbed_transcript"].fillna("<null>")
    so = ora["scrubbed_transcript"].fillna("<null>")
    bad = eng.loc[se.values != so.values, "clip_id"].tolist()
    assert not bad, f"scrub mismatches: {bad[:10]}"

    # per-rule flags identical
    for i in range(len(eng)):
        assert eng["rule_flags"].iloc[i] == ora["rule_flags"].iloc[i], \
            f"rule_flags mismatch at {eng['clip_id'].iloc[i]}"

    # scores bit-identical (shared deterministic model math)
    assert (eng["lang"].values == ora["lang"].values).all()
    pd.testing.assert_series_equal(
        eng["lid_margin"], ora["lid_margin"], check_names=False)
    pd.testing.assert_series_equal(
        eng["ppl_score"], ora["ppl_score"], check_names=False)


def test_planted_defects_are_caught(spark, clips_t1):
    """Coverage sanity vs the generator's planted tags (lenient — the hard
    gate is engine==oracle above)."""
    path, clips_pd, planted = clips_t1
    eng = _run_engine(spark, path)
    m = eng.merge(planted, on="clip_id")

    kept_classes = {"clean", "PII", "TOXIC_MILD", "DIRTY_CODEC", "REPAIRABLE"}
    for cls, grp in m.groupby("defect"):
        keep_rate = grp["keep"].mean()
        if cls in kept_classes:
            assert keep_rate > 0.95, f"{cls}: keep rate {keep_rate}"
        else:
            assert keep_rate < 0.2, f"{cls}: keep rate {keep_rate}"

    # PII rows must be rewritten, clean rows untouched
    pii = m[m["defect"] == "PII"]
    assert (pii["n_scrub_hits"] > 0).all()
    clean = m[m["defect"] == "clean"]
    orig = clips_pd.set_index("clip_id").loc[clean["clip_id"], "transcript"]
    assert (clean["scrubbed_transcript"].values == orig.values).all()

    # REPAIRABLE rows: kept via the repair stage (repaired=True), transcript
    # normalized (no whitespace runs / control chars survive)
    rep = m[m["defect"] == "REPAIRABLE"]
    assert len(rep) > 0 and rep["repaired"].all()
    assert not rep["scrubbed_transcript"].str.contains("  |\t|\x07").any()
    assert not clean["repaired"].any()


def test_determinism_across_partitionings(spark, clips_t1):
    """Same input at different partition counts -> byte-identical labels
    (SURVEY §5.2-4; the reference is order-dependent, we must not be)."""
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)

    def labels_at(n_parts: int) -> pd.DataFrame:
        with pipeline.labeled(clips.repartition(n_parts)) as labels:
            return labels.toPandas().sort_values("clip_id") \
                .reset_index(drop=True)

    pd.testing.assert_frame_equal(labels_at(2), labels_at(17))


def test_engine_matches_oracle_telephony_g711(spark, tmp_path):
    """Full pipeline vs pure-pandas oracle over a TELEPHONY corpus: most
    payloads are real ITU-T G.711 mu-law/A-law companded streams (decoded
    exactly by pure-numpy LUTs, no stand-in, no backend).  Exact
    keep/drop + drop_reason + per-rule-flag agreement, and the G.711 rows
    must actually be live: clean companded clips decode (not
    UNDECODABLE), dirty G.711 spellings canonicalize."""
    from engine import config, fixtures

    clips_pd, planted = fixtures.generate_clips(
        800, seed=77, profile="test",
        codec_weights=fixtures.TELEPHONY_CODEC_WEIGHTS)
    canon = clips_pd["codec"].map(config.canon_codec)
    assert (canon.isin(["mulaw", "alaw"])).sum() > 400  # corpus is telephony

    path = str(tmp_path / "clips_telephony")
    fixtures.write_clips_parquet(spark, clips_pd, path)
    eng = _run_engine(spark, path)
    ora = oracle.label_clips(clips_pd)

    assert len(eng) == len(ora)
    assert (eng["clip_id"].values == ora["clip_id"].values).all()
    assert (eng["keep"].values == ora["keep"].values).all()
    dr_eng = eng["drop_reason"].fillna("<keep>")
    dr_ora = ora["drop_reason"].fillna("<keep>")
    bad = eng.loc[dr_eng.values != dr_ora.values, "clip_id"].tolist()
    assert not bad, f"drop_reason mismatches: {bad[:10]}"
    for i in range(len(eng)):
        assert eng["rule_flags"].iloc[i] == ora["rule_flags"].iloc[i]

    # the compressed rows really decode: no clean G.711/ADPCM clip may land
    # in UNDECODABLE (a broken LUT/dispatch/recursion would push them there)
    planted_cls = dict(zip(planted["clip_id"], planted["defect"]))
    flags = dict(zip(eng["clip_id"], eng["rule_flags"]))
    for fam in (("mulaw", "alaw"), ("adpcm_ima",)):
        fam_clean = [cid for cid, c in zip(clips_pd["clip_id"], canon)
                     if c in fam and planted_cls.get(cid, "clean") == "clean"]
        assert fam_clean, fam
        undec = [cid for cid in fam_clean
                 if flags[cid].get(config.RULE_UNDECODABLE)]
        assert not undec, (fam, undec[:5])


def test_codec_whitespace_engine_matches_oracle(spark, tmp_path):
    """Codecs padded with whitespace Spark's trim() keeps (tab, newline,
    no-break space): the scoring UDF decodes them under their canonical
    codec, so CODEC_INVALID must not fire on them either — engine and
    oracle agree row for row."""
    import numpy as np

    from engine import config, fixtures

    t = np.arange(16000, dtype=np.float32)
    pcm = (2000 * np.sin(2 * np.pi * 440.0 * t / 16000)).astype("<i2").tobytes()
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    codecs = ["flac\t", "\nMP3", "\u00a0opus", "\tpcm", "wav\u00a0", "pcm"]
    clips_pd = pd.DataFrame(
        [(f"w{i}", pcm, 16000, 1000, c, text) for i, c in enumerate(codecs)],
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"])
    path = str(tmp_path / "ws_codecs")
    fixtures.write_clips_parquet(spark, clips_pd, path)

    eng = _run_engine(spark, path)
    ora = oracle.label_clips(clips_pd)
    assert eng["clip_id"].tolist() == ora["clip_id"].tolist()
    assert eng["keep"].tolist() == ora["keep"].tolist()
    assert (eng["drop_reason"].fillna("<keep>").tolist()
            == ora["drop_reason"].fillna("<keep>").tolist())
    assert eng["rule_flags"].tolist() == ora["rule_flags"].tolist()
    assert not any(f[config.RULE_CODEC_INVALID] for f in eng["rule_flags"])
    # the PCM spellings decode like the plain one
    assert (eng.loc[eng["clip_id"].isin(["w3", "w4"]), "decoded_dur_ms"]
            == eng.loc[eng["clip_id"] == "w5", "decoded_dur_ms"].iloc[0]).all()
