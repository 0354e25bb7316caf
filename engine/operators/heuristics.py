"""Heuristic rule columns — ALL native Column expressions (JVM-side,
whole-stage-codegen; no Python in this path).

Each rule grafts a reference check (file:line cited per rule).  Flag
semantics are tri-valued-free: every flag is a non-null boolean; a rule
that cannot be evaluated for a row (e.g. chars/sec with dur_ms <= 0) is
False — the rule that *made* it unevaluable fires instead, earlier in
RULE_ORDER.  The pure-pandas oracle (tests/oracle.py) implements the same
definitions independently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config


def alpha_ratio_col(t: Column) -> Column:
    """Unicode-letter fraction of the transcript (null when unevaluable).
    repair._fails_text_rules computes the same ratio in Python
    (`str.isalpha`, the same Unicode letter categories as `\\p{L}`)."""
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    return F.when(t.isNotNull() & (n_chars > 0),
                  n_alpha.cast("double") / n_chars.cast("double"))


def chars_per_sec_col(t: Column, dur: Column) -> Column:
    """Transcript chars per second of audio (null when unevaluable)."""
    n_chars = F.length(t)
    return F.when(t.isNotNull() & (n_chars > 0) & dur.isNotNull() & (dur > 0),
                  n_chars.cast("double") / (dur.cast("double") / F.lit(1000.0)))


def with_heuristic_flags(df: DataFrame) -> DataFrame:
    """Adds alpha_ratio, chars_per_sec and one boolean flag column per
    heuristic rule (f_DUR_BOUNDS, ...) to scored rows, which carry the
    scoring UDF's `canon_codec` (config.canon_codec)."""
    t = F.col("transcript")
    dur = F.col("dur_ms")

    n_chars = F.length(t)
    alpha_ratio = alpha_ratio_col(t)
    cps = chars_per_sec_col(t, dur)

    # DUR_BOUNDS: graft of `endtime > starttime` (Step1:66-68) + the
    # day-long-gap cap `duration < 1440` min (Step3:96)
    f_dur = (dur.isNull() | (dur < config.DUR_MS_MIN) | (dur > config.DUR_MS_MAX))

    # SR_INVALID: allowlist membership (domain checks, Step1:76-93)
    f_sr = ~F.col("sr_hz").isin(*config.SR_ALLOWLIST) | F.col("sr_hz").isNull()

    # CODEC_INVALID: allowlist membership of the codec the UDF decoded
    # with (graft of the 16-way subtype recode chain HOME->HO ...
    # OTHER->OA/OT, Step1-Read-Data-Formatting.R:76-93)
    f_codec = (~F.col("canon_codec").isin(*config.CODEC_ALLOWLIST)
               | F.col("canon_codec").isNull())

    # TXT_EMPTY: graft of missing-route detection (Step2:3, -999 sentinel).
    # regexp \s (not trim()) so tabs/newlines count as whitespace, matching
    # Python str.strip() in the oracle.
    f_empty = t.isNull() | (F.length(F.regexp_replace(t, r"\s", "")) == 0)

    # TXT_LEN: length bounds
    f_len = F.when(t.isNotNull(),
                   (n_chars < config.TXT_LEN_MIN) | (n_chars > config.TXT_LEN_MAX)
                   ).otherwise(F.lit(False))

    # CHAR_RATIO: alpha-ratio floor + impossible chars/sec rate
    # (graft of the impossible-speed filter `speed < 90` m/s, Step3:135)
    f_ratio = (
        F.coalesce(alpha_ratio < config.ALPHA_RATIO_MIN, F.lit(False))
        | F.coalesce(cps > config.CHARS_PER_SEC_MAX, F.lit(False))
        | F.coalesce(cps < config.CHARS_PER_SEC_MIN, F.lit(False))
    )

    # one projection: each withColumn call re-analyses the whole plan
    return df.withColumns({
        "alpha_ratio": alpha_ratio,
        "chars_per_sec": cps,
        "f_" + config.RULE_DUR_BOUNDS: f_dur,
        "f_" + config.RULE_SR_INVALID: f_sr,
        "f_" + config.RULE_CODEC_INVALID: f_codec,
        "f_" + config.RULE_TXT_EMPTY: f_empty,
        "f_" + config.RULE_TXT_LEN: f_len,
        "f_" + config.RULE_CHAR_RATIO: f_ratio,
    })


def with_model_flags(df: DataFrame) -> DataFrame:
    """Flags over the fused-UDF score columns (still native exprs here;
    the Python work already happened once in scoring.score_clips)."""
    dur = F.col("dur_ms")
    dec = F.col("decoded_dur_ms")

    # UNDECODABLE: payload present but its codec's decoder is missing or
    # rejected the bytes (scoring UDF verdict).  Precedes every
    # decode-derived rule so those never fire on garbage interpretations.
    f_undec = F.col("undecodable")

    # DUR_MISMATCH: recompute-and-check (Step5-Attribute-Redundancy.R:47-55).
    # Fires when duration and sample rate are themselves plausible but the
    # decoded payload disagrees (or is missing/undecodable).
    sr_ok = F.col("sr_hz").isin(*config.SR_ALLOWLIST)
    f_mismatch = F.when(
        dur.isNotNull() & (dur > 0) & sr_ok,
        dec.isNull()
        | (F.abs(dec.cast("double") - dur.cast("double")) / dur.cast("double")
           > config.DUR_MISMATCH_FRAC),
    ).otherwise(F.lit(False))

    # SILENCE: frame-level no-signal detection (graft of the stay-point/
    # stationary-episode scan, Step4-Spatial-Inconsistency.R:5-49); only
    # fires when the payload decoded far enough to yield frame features
    f_silence = F.coalesce(
        F.col("silence_ratio") > config.SILENCE_RATIO_MAX, F.lit(False))

    f_lid = F.col("lid_margin") < config.LID_MARGIN_MIN
    f_ppl = F.col("ppl_score") > config.PPL_MAX
    f_tox = F.col("tox_severe")

    return df.withColumns({
        "f_" + config.RULE_UNDECODABLE: f_undec,
        "f_" + config.RULE_DUR_MISMATCH: f_mismatch,
        "f_" + config.RULE_SILENCE: f_silence,
        "f_" + config.RULE_LID_LOWCONF: f_lid,
        "f_" + config.RULE_HIGH_PPL: f_ppl,
        "f_" + config.RULE_TOXIC: f_tox,
    })
