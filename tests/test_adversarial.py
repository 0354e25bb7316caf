"""Adversarial-input parity: engine == oracle on handcrafted nasty rows
(nulls, unicode edge cases, degenerate payloads) that the fixture
generator's defect classes don't produce.  Catches tri-state/null-handling
divergences between the Spark expressions and the pure-pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine import fixtures
from engine.operators import pipeline
from tests import oracle


def _pcm(n: int, amp: int = 2000, sr: int = 16000) -> bytes:
    t = np.arange(n, dtype=np.float32)
    return (amp * np.sin(2 * np.pi * 440.0 * t / sr)).astype("<i2").tobytes()


def _rows():
    long_word = "x" * 4000
    rtl = "مرحبا بالعالم " * 8
    emoji = "hello \U0001f600 world \U0001f680 this is a tale of tests " * 3
    combining = "é" * 50  # e + combining acute
    rows = [
        # (bytes, sr, dur, codec, transcript)
        (None, 16000, 1000, "pcm", "payload is missing entirely here"),
        (b"", 16000, 1000, "pcm", "payload empty bytes"),
        (b"\x01", 16000, 1000, "pcm", "payload one odd byte"),
        (b"\x01\x02", 16000, 1000, "pcm", "payload single sample"),
        (_pcm(16000), 16000, 1000, "pcm", None),
        (_pcm(16000), 16000, 1000, "pcm", ""),
        (_pcm(16000), 16000, 1000, "pcm", " \t\n"),
        (_pcm(16000), 16000, 1000, "pcm", "a"),
        (_pcm(16000), 16000, 1000, "pcm", "ab"),
        (_pcm(16000), 16000, 1000, "pcm", "\x00\x01 control chars"),
        (_pcm(16000), 16000, 1000, "pcm", emoji),
        (_pcm(16000), 16000, 1000, "pcm", rtl),
        (_pcm(16000), 16000, 1000, "pcm", combining),
        (_pcm(16000), 16000, 1000, "pcm", long_word),
        (_pcm(16000), 16000, 1000, "pcm", "1234567890 9876543210 555"),
        (_pcm(16000), None, 1000, "pcm", "sample rate is null here friend"),
        (_pcm(16000), 0, 1000, "pcm", "sample rate zero for this clip"),
        (_pcm(16000), -1, 1000, "pcm", "negative sample rate clip data"),
        (_pcm(16000), 7999, 1000, "pcm", "just off the allowlist rate"),
        (_pcm(16000), 16000, None, "pcm", "duration is null on this row"),
        (_pcm(16000), 16000, 0, "pcm", "duration zero on this row ok"),
        (_pcm(16000), 16000, -5, "pcm", "duration negative on this row"),
        (_pcm(16000), 16000, 1, "pcm", "duration one millisecond long"),
        (_pcm(16000), 16000, 10 ** 9, "pcm", "duration a billion ms long"),
        (_pcm(16000), 16000, 1000, None, "codec is null on this clip row"),
        (_pcm(16000), 16000, 1000, "", "codec empty string on this row"),
        (_pcm(16000), 16000, 1000, "  MP3  ", "codec needs trim and recode"),
        (_pcm(16000), 16000, 1000, "unknown☃", "codec unicode snowman"),
        (np.zeros(16000, dtype="<i2").tobytes(), 16000, 1000, "pcm",
         "all zero samples pure silence"),
        ((np.ones(16000, dtype=np.int64) * 32767).astype("<i2").tobytes(),
         16000, 1000, "pcm", "all full scale samples clipping"),
        (_pcm(7, sr=16000), 16000, 1000, "pcm", "seven samples only in here"),
        (None, None, None, None, None),
    ]
    return pd.DataFrame(
        [(f"a{i:04d}",) + r for i, r in enumerate(rows)],
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"])


def test_adversarial_rows_engine_matches_oracle(spark, tmp_path):
    clips_pd = _rows()
    path = str(tmp_path / "adv_clips")
    fixtures.write_clips_parquet(spark, clips_pd, path)

    with pipeline.labeled(pipeline.read_clips(spark, path)) as labels:
        eng = labels.toPandas().sort_values("clip_id").reset_index(drop=True)
    ora = oracle.label_clips(clips_pd)

    assert eng["clip_id"].tolist() == ora["clip_id"].tolist()
    assert eng["keep"].tolist() == ora["keep"].tolist()
    assert (eng["drop_reason"].fillna("<keep>").tolist()
            == ora["drop_reason"].fillna("<keep>").tolist())
    assert (eng["scrubbed_transcript"].fillna("<null>").tolist()
            == ora["scrubbed_transcript"].fillna("<null>").tolist())
    for i in range(len(eng)):
        assert eng["rule_flags"].iloc[i] == ora["rule_flags"].iloc[i], \
            eng["clip_id"].iloc[i]
