"""Hand-built small-DataFrame tests per heuristic rule family —
the granularity the reference lacks (SURVEY §5.2-2)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine import config
from engine.operators import heuristics


def _df(spark, rows):
    """Scored-shaped rows: `canon_codec` comes from config.canon_codec, as
    the scoring UDF emits it."""
    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("canon_codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ])
    return spark.createDataFrame(
        [(cid, sr, dur, codec, config.canon_codec(codec), t)
         for cid, sr, dur, codec, t in rows], schema)


def _flags(spark, rows) -> pd.DataFrame:
    out = heuristics.with_heuristic_flags(_df(spark, rows)).toPandas()
    return out.set_index("clip_id")


def test_dur_bounds(spark):
    f = _flags(spark, [
        ("ok", 16000, 5000, "mp3", "hello there"),
        ("low", 16000, 299, "mp3", "x"),
        ("edge_low", 16000, 300, "mp3", "x"),
        ("high", 16000, 120001, "mp3", "x"),
        ("edge_high", 16000, 120000, "mp3", "x"),
        ("null", 16000, None, "mp3", "x"),
        ("neg", 16000, -5, "mp3", "x"),
    ])
    col = "f_" + config.RULE_DUR_BOUNDS
    assert not f.loc["ok", col] and not f.loc["edge_low", col] \
        and not f.loc["edge_high", col]
    assert f.loc["low", col] and f.loc["high", col] and f.loc["null", col] \
        and f.loc["neg", col]


def test_sr_allowlist(spark):
    f = _flags(spark, [
        ("a", 16000, 1000, "mp3", "x"), ("b", 44100, 1000, "mp3", "x"),
        ("c", 96000, 1000, "mp3", "x"), ("d", 0, 1000, "mp3", "x"),
        ("e", None, 1000, "mp3", "x"),
    ])
    col = "f_" + config.RULE_SR_INVALID
    assert not f.loc["a", col] and not f.loc["b", col]
    assert f.loc["c", col] and f.loc["d", col] and f.loc["e", col]


def test_codec_canonicalization(spark):
    """Graft of the subtype recode chain (Step1:76-93)."""
    f = _flags(spark, [
        ("clean", 16000, 1000, "mp3", "x"),
        ("upper", 16000, 1000, "MP3", "x"),
        ("alias", 16000, 1000, "mpeg3", "x"),
        ("spacey", 16000, 1000, " Flac ", "x"),
        ("wav", 16000, 1000, "wav", "x"),
        # non-space whitespace: str.strip() removes it, Spark's trim() only
        # strips ASCII spaces — the decoder and the rule must agree
        ("tab", 16000, 1000, "flac\t", "x"),
        ("newline", 16000, 1000, "\nMP3", "x"),
        ("nbsp", 16000, 1000, "\u00a0opus", "x"),
        ("bad", 16000, 1000, "xvc9", "x"),
        ("empty", 16000, 1000, "", "x"),
        ("null", 16000, 1000, None, "x"),
    ])
    assert f.loc["upper", "canon_codec"] == "mp3"
    assert f.loc["alias", "canon_codec"] == "mp3"
    assert f.loc["spacey", "canon_codec"] == "flac"
    assert f.loc["wav", "canon_codec"] == "pcm_s16le"
    assert f.loc["tab", "canon_codec"] == "flac"
    assert f.loc["newline", "canon_codec"] == "mp3"
    assert f.loc["nbsp", "canon_codec"] == "opus"
    col = "f_" + config.RULE_CODEC_INVALID
    for cid in ("clean", "upper", "alias", "spacey", "wav",
                "tab", "newline", "nbsp"):
        assert not f.loc[cid, col], cid
    for cid in ("bad", "empty", "null"):
        assert f.loc[cid, col], cid


def test_txt_empty_and_len(spark):
    f = _flags(spark, [
        ("ok", 16000, 1000, "mp3", "abc"),
        ("null", 16000, 1000, "mp3", None),
        ("blank", 16000, 1000, "mp3", "  \t "),
        ("short", 16000, 1000, "mp3", "ab"),
        ("long", 16000, 200000, "mp3", "a" * 5001),
        ("edge", 16000, 200000, "mp3", "a" * 5000),
    ])
    e, l = "f_" + config.RULE_TXT_EMPTY, "f_" + config.RULE_TXT_LEN
    assert not f.loc["ok", e] and not f.loc["ok", l]
    assert f.loc["null", e] and not f.loc["null", l]
    assert f.loc["blank", e]
    assert f.loc["short", l] and f.loc["long", l] and not f.loc["edge", l]


def test_char_ratio(spark):
    f = _flags(spark, [
        ("ok", 16000, 2000, "mp3", "twenty chars of text"),       # 10 cps
        ("digits", 16000, 2000, "mp3", "123456 789 012 345 678"),  # alpha 0
        ("fast", 16000, 1000, "mp3", "x" * 60),                    # 60 cps
        ("slow", 16000, 60000, "mp3", "abcd"),                     # 0.07 cps
        ("unicode", 16000, 2000, "mp3", "кира миало тета болу"),   # cyrillic is alpha
    ])
    col = "f_" + config.RULE_CHAR_RATIO
    assert not f.loc["ok", col] and not f.loc["unicode", col]
    assert f.loc["digits", col] and f.loc["fast", col] and f.loc["slow", col]
    assert abs(f.loc["ok", "chars_per_sec"] - 10.0) < 1e-9


def test_model_flag_dur_mismatch(spark):
    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("decoded_dur_ms", T.IntegerType()),
        T.StructField("silence_ratio", T.DoubleType()),
        T.StructField("lid_margin", T.DoubleType()),
        T.StructField("ppl_score", T.DoubleType()),
        T.StructField("tox_severe", T.BooleanType()),
        T.StructField("undecodable", T.BooleanType()),
    ])
    df = spark.createDataFrame([
        ("exact", 16000, 1000, 1000, 0.0, 1.0, 10.0, False, False),
        ("within", 16000, 1000, 1099, 0.0, 1.0, 10.0, False, False),
        ("over", 16000, 1000, 1101, 0.0, 1.0, 10.0, False, False),
        ("missing", 16000, 1000, None, None, 1.0, 10.0, False, False),
        ("bad_sr", 12345, 1000, None, None, 1.0, 10.0, False, False),  # SR rule's problem
        ("silent", 16000, 1000, 1000, 0.97, 1.0, 10.0, False, False),
        ("part_silent", 16000, 1000, 1000, 0.5, 1.0, 10.0, False, False),
        ("undec", 16000, 1000, None, None, 1.0, 10.0, False, True),
    ], schema)
    f = heuristics.with_model_flags(df).toPandas().set_index("clip_id")
    col = "f_" + config.RULE_DUR_MISMATCH
    assert not f.loc["exact", col] and not f.loc["within", col]
    assert f.loc["over", col] and f.loc["missing", col]
    assert not f.loc["bad_sr", col]
    sil = "f_" + config.RULE_SILENCE
    assert f.loc["silent", sil]
    assert not f.loc["part_silent", sil] and not f.loc["missing", sil]
    # undecodable flag passes through; precedence over DUR_MISMATCH is
    # RULE_ORDER's concern (UNDECODABLE sits earlier)
    und = "f_" + config.RULE_UNDECODABLE
    assert f.loc["undec", und] and not f.loc["exact", und]


def test_repair_normalize_engine_oracle_parity(spark):
    """normalize_col (Java regex) and the oracle's _normalize (Python re)
    must agree byte-for-byte on adversarial inputs: ASCII whitespace and
    control chars collapse; unicode spaces (NBSP, ideographic space,
    zero-width) deliberately do NOT (the classes are ASCII-explicit
    because Java \\s and Python re \\s disagree on unicode).  Also
    idempotent: normalizing twice changes nothing."""
    import numpy as np

    from engine.operators import repair
    from tests import oracle

    rng = np.random.default_rng(99)
    alphabet = (list("abcXYZ09.!") + [" ", "\t", "\n", "\x0b", "\f", "\r"]
                + ["\x00", "\x07", "\x1f", "\x7f"]
                + ["\u00a0", "\u2009", "\u3000", "\u200b", "\u00e9", "\u4e2d"])
    samples = ["", " ", "\x00\x01", "  ", "a  b", "\ta\tb\t"]
    for _ in range(300):
        n = int(rng.integers(0, 40))
        samples.append("".join(rng.choice(alphabet) for _ in range(n)))

    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["n"] for r in
           df.select(repair.normalize_col(F.col("t")).alias("n")).collect()]
    for s, g in zip(samples, got):
        o = oracle._normalize(s)
        assert g == o, repr((s, g, o))
        assert oracle._normalize(o) == o  # idempotence
    # the unicode-space design decision, pinned explicitly: NBSP survives,
    # ASCII runs collapse
    assert oracle._normalize("a\u00a0\u00a0b") == "a\u00a0\u00a0b"
    assert oracle._normalize("a  b") == "a b"


# ---------------------------------------------------------------------------
# property tests: repair normalization/rescue (pure Python, no Spark)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_any_text = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FFF),
    max_size=400)


@settings(max_examples=300, deadline=None)
@given(_any_text)
def test_normalize_text_idempotent(t):
    """normalize(normalize(t)) == normalize(t) — repairing twice can never
    differ from repairing once (matches the oracle's single-pass model)."""
    from engine.operators import repair

    once = repair.normalize_text(t)
    assert repair.normalize_text(once) == once


@settings(max_examples=300, deadline=None)
@given(_any_text, st.integers(min_value=-5, max_value=10 ** 7) | st.none())
def test_repair_batch_invariants(t, dur):
    """For ANY transcript/duration: (a) a text passing the rules is never
    touched; (b) a rescued text differs, is non-empty, and passes all text
    rules; (c) a non-rescued text is returned verbatim; (d) repair_batch
    agrees with the oracle's independent repair model (tests/oracle.py)."""
    from engine import config
    from engine.operators import repair
    from tests import oracle

    out, rep = repair.repair_batch([t], [dur])
    if not repair._fails_text_rules(t, dur):
        assert out == [t] and rep == [False]
    if rep[0]:
        assert out[0] != t and len(out[0]) > 0
        assert not repair._fails_text_rules(out[0], dur)
    else:
        assert out[0] == t

    # oracle agreement (the same decision the pandas oracle makes)
    exp_rep, exp_t = False, t
    if repair._fails_text_rules(t, dur):
        norm = oracle._normalize(t)
        if norm != t and len(norm) > 0:
            ok = config.TXT_LEN_MIN <= len(norm) <= config.TXT_LEN_MAX
            if ok and oracle._alpha_ratio(norm) < config.ALPHA_RATIO_MIN:
                ok = False
            if ok and dur is not None and dur > 0:
                cps = len(norm) / (dur / 1000.0)
                if cps > config.CHARS_PER_SEC_MAX \
                        or cps < config.CHARS_PER_SEC_MIN:
                    ok = False
            if ok:
                exp_rep, exp_t = True, norm
    assert (rep[0], out[0]) == (exp_rep, exp_t)


# ---------------------------------------------------------------------------
# rule_version coverage: every label-affecting constant must perturb it
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from engine import audio_core  # noqa: E402

_VERSIONED_CONSTANTS = [
    (config, "DUR_MS_MIN"), (config, "DUR_MS_MAX"),
    (config, "TXT_LEN_MIN"), (config, "TXT_LEN_MAX"),
    (config, "ALPHA_RATIO_MIN"),
    (config, "CHARS_PER_SEC_MIN"), (config, "CHARS_PER_SEC_MAX"),
    (config, "DUR_MISMATCH_FRAC"),
    (config, "SILENCE_FRAME_RMS"), (config, "SILENCE_RATIO_MAX"),
    (config, "LID_MARGIN_MIN"), (config, "PPL_MAX"),
    (config, "SIMHASH_BANDS"), (config, "SIMHASH_BAND_BITS"),
    (config, "SIMHASH_BUCKET_CAP"), (config, "SIMHASH_HAMMING_MAX"),
    (config, "SIMHASH_SHINGLE_K"), (config, "SIMHASH_MIN_TOKENS"),
    (config, "N_PARTS"),
    (audio_core, "FRAME_MS"), (audio_core, "HOP_MS"),
    (audio_core, "FALLBACK_SR"), (audio_core, "CLIP_THRESHOLD"),
]


@pytest.mark.parametrize(
    "mod,name", _VERSIONED_CONSTANTS,
    ids=[f"{m.__name__.split('.')[-1]}.{n}" for m, n in _VERSIONED_CONSTANTS])
def test_rule_version_covers_constant(monkeypatch, mod, name):
    """Round-3 verdict item 3: changing any label-affecting constant must
    change rule_version() (and hence invalidate committed checkpoints and
    the content-addressed oracle materializations)."""
    base = config.rule_version()
    cur = getattr(mod, name)
    monkeypatch.setattr(mod, name, cur + 1 if isinstance(cur, int) else cur * 2)
    assert config.rule_version() != base
    monkeypatch.undo()
    assert config.rule_version() == base


def test_rule_version_covers_rule_order_and_allowlists(monkeypatch):
    base = config.rule_version()
    monkeypatch.setattr(config, "RULE_ORDER", tuple(reversed(config.RULE_ORDER)))
    assert config.rule_version() != base
    monkeypatch.undo()
    monkeypatch.setattr(config, "SR_ALLOWLIST", (8000,))
    assert config.rule_version() != base
    monkeypatch.undo()
    monkeypatch.setattr(config, "CODEC_ALLOWLIST", ("pcm_s16le",))
    assert config.rule_version() != base


def test_rule_version_includes_code_hash_and_schema():
    """The version must be a function of the label-determining SOURCE
    (verdict item 1 / ADVICE resume-compat): perturbing the cached code
    hash or the scored-schema marker changes rule_version()."""
    from engine.operators import scoring

    base = config.rule_version()
    assert config.label_code_version()  # computable (also under zipimport)

    config._CODE_VERSION_CACHE[0] = "0" * 16
    try:
        assert config.rule_version() != base
    finally:
        config._CODE_VERSION_CACHE.clear()
    assert config.rule_version() == base

    fields = scoring.SCORED_FIELDS
    renamed = list(fields)
    import pyspark.sql.types as T
    renamed[0] = T.StructField("renamed_clip_id", T.StringType(), False)
    scoring.SCORED_FIELDS = renamed
    try:
        assert config.rule_version() != base
    finally:
        scoring.SCORED_FIELDS = fields
    assert config.rule_version() == base
