"""PCM decode features + the SNR >= 30 dB invariant (BASELINE input_hint)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from engine import audio_core


def _tone(sr: int, dur_s: float, f: float, amp: float) -> np.ndarray:
    t = np.arange(int(sr * dur_s)) / sr
    return (amp * np.sin(2 * np.pi * f * t)).astype(np.float64)


def _snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """SNR of decoded (int16-normalized) vs the float reference signal."""
    ref = np.asarray(reference, dtype=np.float64)
    dec = np.asarray(decoded, dtype=np.float64) / audio_core.INT16_FULL_SCALE
    m = min(ref.size, dec.size)
    noise = ref[:m] - dec[:m]
    p_noise = float(np.mean(noise * noise))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(float(np.mean(ref[:m] * ref[:m])) / p_noise)


def test_decode_roundtrip_snr():
    """int16 quantization of a synthetic signal must exceed 30 dB SNR."""
    sr = 16000
    ref = _tone(sr, 1.0, 440.0, 0.5) + _tone(sr, 1.0, 973.0, 0.2)
    payload = (ref * 32767.0).astype("<i2").tobytes()
    decoded = audio_core.decode_pcm_s16le(payload)
    assert decoded is not None and decoded.size == sr
    assert _snr_db(ref, decoded) >= 30.0


def test_features_values():
    sr = 8000
    ref = _tone(sr, 2.0, 200.0, 0.25)
    payload = (ref * 32767.0).astype("<i2").tobytes()
    undecodable, (dur, n, rms, clip_ratio, checksum), _ = \
        audio_core.analyze(payload, sr)
    assert not undecodable
    assert dur == 2000 and n == sr * 2
    assert abs(rms - 0.25 / np.sqrt(2)) < 1e-3
    assert clip_ratio == 0.0
    assert len(checksum) == 32


def test_features_clipping_detected():
    sr = 8000
    ref = np.ones(sr) * 0.9999
    payload = (ref * 32767.0).astype("<i2").tobytes()
    _, (_, _, _, clip_ratio, _), _ = audio_core.analyze(payload, sr)
    assert clip_ratio > 0.99


@pytest.mark.parametrize("payload,sr", [
    (None, 16000), (b"", 16000), (b"\x01", 16000),
])
def test_features_degenerate_payload(payload, sr):
    undecodable, feats, frames = audio_core.analyze(payload, sr)
    assert feats == (None, None, None, None, None)
    assert frames == (None, None, None)
    # a present payload that decodes to no samples is UNDECODABLE; a
    # missing one is not (DUR_MISMATCH's concern instead)
    assert undecodable == (payload is not None)


def test_features_bad_sr():
    payload = (np.zeros(100)).astype("<i2").tobytes()
    _, (dur, n, rms, cr, ck), _ = audio_core.analyze(payload, 0)
    assert dur is None and n == 100 and ck is not None


def test_odd_length_payload_truncates():
    pcm = audio_core.decode_pcm_s16le(b"\x00\x01\x02")
    assert pcm is not None and pcm.size == 1


def test_fake_compressed_roundtrip_all_codecs():
    """Stand-in compressed codec: encode -> decode_payload is lossless."""
    sr = 16000
    ref = _tone(sr, 0.5, 440.0, 0.4)
    pcm_bytes = (ref * 32767.0).astype("<i2").tobytes()
    for codec in audio_core.FAKE_MAGIC:
        enc = audio_core.encode_fake_compressed(pcm_bytes, codec)
        assert enc[:4] != pcm_bytes[:4]  # container, not raw pcm
        dec = audio_core.decode_payload(enc, codec)
        assert dec is not None and dec.tobytes() == pcm_bytes


def test_compressed_bytes_never_pcm_interpreted():
    """The round-1 hazard: raw PCM under a flac label, real-flac-like bytes,
    truncation, wrong magic — all must yield None (UNDECODABLE), never a
    garbage sample array."""
    pcm_bytes = np.zeros(4000, dtype="<i2").tobytes()
    enc = audio_core.encode_fake_compressed(pcm_bytes, "flac")
    assert audio_core.decode_payload(pcm_bytes, "flac") is None     # raw pcm
    assert audio_core.decode_payload(b"fLaC" + b"\x01" * 100, "flac") is None
    assert audio_core.decode_payload(enc[: len(enc) // 2], "flac") is None
    assert audio_core.decode_payload(b"OggS" + enc[4:], "flac") is None
    # unknown / unregistered codec -> no decoder -> None
    assert audio_core.decode_payload(pcm_bytes, "xvc9") is None
    assert audio_core.decode_payload(pcm_bytes, None) is None


def test_analyze_codec_aware_content_checksum():
    """Same audio through pcm and the stand-in flac codec: identical
    features and identical content checksum (cross-codec dup detection)."""
    sr = 16000
    ref = _tone(sr, 0.5, 300.0, 0.3)
    pcm_bytes = (ref * 32767.0).astype("<i2").tobytes()
    u1, f1, fr1 = audio_core.analyze(pcm_bytes, sr, "pcm_s16le")
    u2, f2, fr2 = audio_core.analyze(
        audio_core.encode_fake_compressed(pcm_bytes, "flac"), sr, "flac")
    assert not u1 and not u2
    assert f1 == f2 and fr1 == fr2
    # undecodable: payload present, decode fails
    u3, f3, _ = audio_core.analyze(pcm_bytes, sr, "flac")
    assert u3 and f3 == (None, None, None, None, None)
    # missing payload is NOT undecodable (DUR_MISMATCH's concern instead)
    u4, _, _ = audio_core.analyze(None, sr, "flac")
    assert not u4


def test_register_decoder_hook():
    """A production decoder registered for a codec takes over dispatch."""
    calls = []

    def fake(payload):
        calls.append(payload)
        return np.frombuffer(payload, dtype="<i2")

    audio_core.register_decoder("testcodec", fake)
    try:
        out = audio_core.decode_payload(b"\x00\x01\x00\x02", "testcodec")
        assert out is not None and out.size == 2 and len(calls) == 1
    finally:
        audio_core._DECODERS.pop("testcodec", None)


def test_autodetect_backends_sandbox():
    """No codec library in this sandbox: the probe must return empty and
    leave the stand-in decoders functional (flac still roundtrips)."""
    found = audio_core.autodetect_backends()
    assert found == {}  # documented sandbox state; real deploys see flac+
    pcm = (np.arange(64) % 7 * 100).astype("<i2").tobytes()
    payload = audio_core.encode_fake_compressed(pcm, "flac")
    assert audio_core.decode_payload(payload, "flac") is not None


def test_registered_backend_end_to_end_scoring():
    """A chained 'real' decoder flows end-to-end through the fused scoring
    batch: a real-format payload decodes under the registered backend,
    the stand-in format still decodes via the fallback, and after the
    backend is removed the real-format payload lands in UNDECODABLE
    (honesty: never PCM-interpreted)."""
    import pandas as pd

    from engine.operators import scoring

    sr = 16000
    pcm = (_tone(sr, 0.8, 300.0, 0.4) * 32767.0).astype("<i2").tobytes()
    real_payload = b"REALfmt!" + pcm  # format only the fake backend reads
    standin_payload = audio_core.encode_fake_compressed(pcm, "flac")

    def fake_real(payload):
        if not payload.startswith(b"REALfmt!"):
            return None
        return np.frombuffer(payload[8:], dtype="<i2")

    def batch(codec="flac"):
        pdf = pd.DataFrame({
            "clip_id": ["real0", "standin0"],
            "part_id": pd.array([0, 0], dtype="int32"),
            "bytes": [real_payload, standin_payload],
            "sr_hz": pd.array([sr, sr], dtype="Int32"),
            "dur_ms": pd.array([800, 800], dtype="Int32"),
            "codec": [codec, codec],
            "transcript": ["a plain enough test sentence here ok"] * 2,
        })
        return scoring._score_batch(pdf).set_index("clip_id")

    before = batch()
    assert bool(before.loc["real0", "undecodable"])  # no backend yet
    assert not bool(before.loc["standin0", "undecodable"])

    old = audio_core._DECODERS["flac"]
    audio_core.register_decoder(
        "flac", audio_core.chain_decoders(fake_real, old))
    try:
        after = batch()
        assert not bool(after.loc["real0", "undecodable"])
        assert int(after.loc["real0", "n_samples"]) == sr * 8 // 10
        # fallback chain keeps the stand-in format decodable
        assert not bool(after.loc["standin0", "undecodable"])
        # same audio -> same content checksum across the two containers
        assert after.loc["real0", "pcm_checksum"] == \
            after.loc["standin0", "pcm_checksum"]
    finally:
        audio_core._DECODERS["flac"] = old
        audio_core.AVAILABLE_BACKENDS.pop("flac", None)


def test_backend_module_env_hook(tmp_path):
    """$SPARK_GRAFT_AUDIO_BACKENDS module hook: a file defining DECODERS
    gets chained at import time (the pattern that reaches every executor
    worker)."""
    mod = tmp_path / "backends.py"
    mod.write_text(
        "import numpy as np\n"
        "def _dec(payload):\n"
        "    if not payload.startswith(b'XY'):\n"
        "        return None\n"
        "    return np.frombuffer(payload[2:], dtype='<i2')\n"
        "DECODERS = {'opus': _dec}\n")
    old = audio_core._DECODERS["opus"]
    try:
        found = audio_core.load_backend_module(str(mod))
        assert found == {"opus": str(mod)}
        pcm = (np.arange(32, dtype="<i2")).tobytes()
        assert audio_core.decode_payload(b"XY" + pcm, "opus").size == 32
        # fallback intact for the stand-in container
        standin = audio_core.encode_fake_compressed(pcm, "opus")
        assert audio_core.decode_payload(standin, "opus") is not None
    finally:
        audio_core._DECODERS["opus"] = old
        audio_core.AVAILABLE_BACKENDS.pop("opus", None)


def test_frame_features_tone_vs_silence():
    sr = 16000
    ref = _tone(sr, 1.0, 440.0, 0.3)
    payload = (ref * 32767.0).astype("<i2").tobytes()
    _, _, (sil, flat, mel) = audio_core.analyze(payload, sr)
    assert sil == 0.0                      # a 0.3-amplitude tone is never silent
    assert flat is not None and flat < 0.5  # tonal -> low flatness
    assert isinstance(mel, list) and len(mel) == audio_core.N_MELS

    quiet = np.zeros(sr, dtype="<i2").tobytes()
    _, _, (sil2, flat2, mel2) = audio_core.analyze(quiet, sr)
    assert sil2 == 1.0
    assert len(mel2) == audio_core.N_MELS


def test_frame_features_partial_silence():
    sr = 16000
    sig = np.zeros(sr, dtype=np.float32)
    sig[: sr // 10] = _tone(sr, 0.1, 300.0, 0.5)  # first 10% loud
    payload = (sig * 32767.0).astype("<i2").tobytes()
    _, _, (sil, _, _) = audio_core.analyze(payload, sr)
    assert 0.7 < sil < 0.95


def test_frame_features_degenerate():
    assert audio_core.analyze(None, 16000)[2] == (None, None, None)
    # one sample decodes but is shorter than a frame
    undecodable, _, frames = audio_core.analyze(b"\x00\x01", 16000)
    assert not undecodable and frames == (None, None, None)
    # invalid sr falls back to FALLBACK_SR geometry, still defined
    payload = np.zeros(16000, dtype="<i2").tobytes()
    _, _, (sil, flat, mel) = audio_core.analyze(payload, -1)
    assert sil == 1.0 and len(mel) == audio_core.N_MELS


def test_resample_preserves_tone():
    """Resample 8k->16k->8k: a band-limited tone survives with SNR >= 25 dB
    and rms within 2%; lengths scale by the rate ratio."""
    sr = 8000
    ref = _tone(sr, 1.0, 400.0, 0.4)
    pcm = (ref * 32767.0).astype("<i2")
    up = audio_core.resample_linear(pcm, sr, 16000)
    assert abs(up.size - 2 * sr) <= 2
    down = audio_core.resample_linear(up, 16000, sr)
    assert abs(down.size - sr) <= 2
    m = min(ref.size, down.size)
    assert _snr_db(ref[:m], down[:m]) >= 25.0
    rms_in = np.sqrt(np.mean(pcm.astype(np.float64) ** 2))
    rms_out = np.sqrt(np.mean(down.astype(np.float64) ** 2))
    assert abs(rms_out - rms_in) / rms_in < 0.02


def test_resample_degenerate():
    empty = np.zeros(0, dtype="<i2")
    assert audio_core.resample_linear(empty, 8000, 16000).size == 0
    one = np.ones(1, dtype="<i2")
    assert audio_core.resample_linear(one, 8000, 16000).size == 2
    same = np.arange(10, dtype="<i2")
    assert audio_core.resample_linear(same, 16000, 16000) is same


def test_resample_clips_spark_matches_numpy(spark, clips_t1):
    """The resample transform stage agrees with the direct numpy path for
    every decodable clip (checksum + length), and emits nulls for
    undecodable/invalid-sr rows."""
    import hashlib

    import pandas as pd

    from engine import config
    from engine.operators import pipeline, transform

    path, clips_pd, _ = clips_t1
    clips = pipeline.read_clips(spark, path)
    got = (transform.resample_clips(clips).toPandas()
           .set_index("clip_id").sort_index())
    sample = clips_pd.sample(60, random_state=7)
    for r in sample.itertuples(index=False):
        sr = int(r.sr_hz) if pd.notna(r.sr_hz) else None
        pcm = audio_core.decode_payload(
            bytes(r.bytes) if r.bytes is not None else None,
            config.canon_codec(r.codec))
        row = got.loc[r.clip_id]
        if sr is None or sr < 1000 or pcm is None or pcm.size == 0:
            assert pd.isna(row["resampled_checksum"]) or \
                row["resampled_checksum"] is None
            continue
        out = audio_core.resample_linear(pcm, sr, transform.TARGET_SR)
        assert row["n_samples_out"] == out.size
        assert row["resampled_checksum"] == \
            hashlib.blake2b(out, digest_size=16).hexdigest()


def test_raising_decoder_lands_in_undecodable():
    """A registered decoder that throws (instead of returning None) must
    yield an UNDECODABLE row, not a task-killing exception — one corrupt
    clip cannot take down an Arrow batch."""
    def angry(payload):
        raise ValueError("corrupt stream")

    audio_core.register_decoder("angrycodec", angry)
    try:
        assert audio_core.decode_payload(b"\x00\x01", "angrycodec") is None
        undec, feats, frames = audio_core.analyze(b"\x00\x01", 16000,
                                                  "angrycodec")
        assert undec is True
        assert feats == (None, None, None, None, None)
        assert frames == (None, None, None)
    finally:
        audio_core._DECODERS.pop("angrycodec", None)


# ---------------------------------------------------------------------------
# G.711 mu-law / A-law: a REAL compressed codec decoded exactly in-sandbox
# ---------------------------------------------------------------------------


def test_g711_known_answer_vectors():
    """Decode tables must match the CCITT/Sun g711.c reference semantics.
    Vectors computed from the reference expansion: mu-law 0xFF/0x7F are
    the two zero codes, 0x80/0x00 the extremes (+/-32124); A-law 0xD5/0x55
    are +/-8 (the smallest magnitudes), 0xAA/0x2A the extremes
    (+/-32256)."""
    mu = audio_core._MULAW_LUT
    assert mu[0xFF] == 0 and mu[0x7F] == 0
    assert mu[0x80] == 32124 and mu[0x00] == -32124
    assert mu.min() == -32124 and mu.max() == 32124

    al = audio_core._ALAW_LUT
    assert al[0xD5] == 8 and al[0x55] == -8
    assert al[0xAA] == 32256 and al[0x2A] == -32256
    assert al.min() == -32256 and al.max() == 32256


def test_g711_sign_symmetry():
    mu = audio_core._MULAW_LUT
    al = audio_core._ALAW_LUT
    # mu-law: codes 0x00-0x7F are negative-or-zero mirrors of 0x80-0xFF
    assert np.array_equal(mu[np.arange(128)], -mu[np.arange(128) + 128])
    # A-law: sign bit is 0x80 of the UNCOMPLEMENTED code after 0x55 xor
    for c in range(256):
        assert al[c] == -al[c ^ 0x80]


@pytest.mark.parametrize("law", ["mulaw", "alaw"])
def test_g711_roundtrip_snr_and_idempotence(law):
    """encode -> decode must exceed the BASELINE 30 dB SNR bar on a
    speech-level tone (G.711 yields ~37-38 dB), and a second round-trip
    must be exactly idempotent (the encoder projects onto the law's 256
    levels)."""
    sr = 8000
    ref = _tone(sr, 1.0, 440.0, 0.5) + _tone(sr, 1.0, 973.0, 0.2)
    pcm = (ref * 32767.0).astype("<i2")
    payload = audio_core.encode_g711(pcm, law)
    assert len(payload) == pcm.size  # 1 byte/sample: true 2:1 compression
    dec = audio_core.decode_payload(payload, law)
    assert dec is not None and dec.dtype == np.int16
    snr = _snr_db(pcm.astype(np.float64) / 32768.0, dec)
    assert snr >= 30.0, snr
    payload2 = audio_core.encode_g711(dec, law)
    dec2 = audio_core.decode_payload(payload2, law)
    assert np.array_equal(dec, dec2)


@pytest.mark.parametrize("law", ["mulaw", "alaw"])
def test_g711_encoder_is_nearest_level(law):
    """The fixture-side encoder must pick the nearest decodable level for
    every int16 value (ties to the lower level) — checked exhaustively
    against a brute-force argmin over all 256 levels."""
    lut = (audio_core._MULAW_LUT if law == "mulaw"
           else audio_core._ALAW_LUT).astype(np.int64)
    xs = np.arange(-32768, 32768, dtype=np.int64)
    enc = np.frombuffer(audio_core.encode_g711(xs.astype(np.int16), law),
                        dtype=np.uint8)
    got = lut[enc]
    best = np.abs(lut[None, :] - xs[:, None]).min(axis=1)
    assert np.array_equal(np.abs(got - xs), best)


def test_g711_end_to_end_scoring_batch():
    """G.711 clips flow through the fused scoring batch as first-class
    decodable codecs (alias + allowlist + registry all live): features
    present, not UNDECODABLE, and a truncated/empty payload lands in
    UNDECODABLE instead of being PCM-interpreted."""
    import pandas as pd

    from engine.operators import scoring

    sr = 8000
    pcm = (_tone(sr, 0.8, 300.0, 0.4) * 32767.0).astype("<i2")
    pdf = pd.DataFrame({
        "clip_id": ["mu0", "al0", "mu_empty"],
        "part_id": pd.array([0, 0, 0], dtype="int32"),
        "bytes": [audio_core.encode_g711(pcm, "mulaw"),
                  audio_core.encode_g711(pcm, "alaw"), b""],
        "sr_hz": pd.array([sr] * 3, dtype="Int32"),
        "dur_ms": pd.array([800] * 3, dtype="Int32"),
        "codec": ["pcm_mulaw", "g711a", "ULAW "],  # aliases exercised
        "transcript": ["a plain enough test sentence here ok"] * 3,
    })
    out = scoring._score_batch(pdf).set_index("clip_id")
    for cid in ("mu0", "al0"):
        assert not bool(out.loc[cid, "undecodable"])
        assert int(out.loc[cid, "n_samples"]) == pcm.size
    assert bool(out.loc["mu_empty", "undecodable"])


# ---------------------------------------------------------------------------
# IMA / DVI4 ADPCM: the second REAL compressed codec decoded exactly
# ---------------------------------------------------------------------------


def test_adpcm_known_answer_vector():
    """Pinned expansion of a fixed nibble stream under initial state (0,0):
    computed once from the public IMA recursion (step/index tables); any
    drift in either decode path breaks these exact values."""
    payload = bytes([0x07, 0x7F, 0x88, 0x10, 0xFF, 0x00])
    want = np.array([0, 11, 41, -22, -31, -39, -17, -11, -104, -303,
                     -275, -249], dtype=np.int16)
    got = audio_core.decode_adpcm_ima(payload)
    assert got is not None and got.dtype == np.int16
    assert np.array_equal(got, want), got.tolist()
    # the pure-Python reference agrees exactly, whatever served the call
    assert np.array_equal(audio_core._adpcm_decode_py(payload), want)


def test_adpcm_pure_paths_match_audioop():
    """Where stdlib audioop exists (<= 3.12), the pure-Python decoder AND
    encoder must be bit-identical to its C implementation on random
    streams — the property that licenses the pure path as the 3.13+
    fallback."""
    audioop = pytest.importorskip("audioop")
    rng = np.random.default_rng(123)
    for _ in range(8):
        n = int(rng.integers(1, 1500)) * 2
        pcm = rng.integers(-32768, 32768, n).astype(np.int16)
        want_enc, _ = audioop.lin2adpcm(pcm.tobytes(), 2, None)
        assert audio_core._adpcm_encode_py(pcm) == want_enc
        want_dec, _ = audioop.adpcm2lin(want_enc, 2, None)
        assert np.array_equal(audio_core._adpcm_decode_py(want_enc),
                              np.frombuffer(want_dec, dtype=np.int16))


def test_adpcm_pure_paths_match_golden_stream():
    """The same property without audioop: a checked-in pair made by the
    stdlib C encoder (tools/make_adpcm_golden.py, Python 3.11) pins both
    pure-Python recursions bit for bit on Python 3.13+ too.  The signal
    drives the step index to both ends and valpred to both rails."""
    golden = np.load(os.path.join(os.path.dirname(__file__), "data",
                                  "adpcm_ima_golden.npz"))
    adpcm = golden["adpcm"].tobytes()
    assert audio_core._adpcm_encode_py(golden["pcm"]) == adpcm
    assert np.array_equal(audio_core._adpcm_decode_py(adpcm),
                          golden["decoded"])


def test_adpcm_roundtrip_snr_and_compression():
    """encode -> decode at true 4:1 compression (half a byte per sample).
    The SNR bar is codec-appropriate: IMA ADPCM's 4-bit adaptive quantizer
    delivers ~20-26 dB on speech-band material (vs G.711's ~38 dB at half
    the compression) — that is the codec's real fidelity ceiling, not a
    decode defect; decode EXACTNESS is pinned separately against audioop
    and the known-answer vector above."""
    sr = 8000
    ref = _tone(sr, 1.0, 440.0, 0.5) + _tone(sr, 1.0, 973.0, 0.2)
    pcm = (ref * 32767.0).astype("<i2")
    payload = audio_core.encode_adpcm_ima(pcm)
    assert len(payload) == pcm.size // 2  # 4 bits/sample
    dec = audio_core.decode_payload(payload, "adpcm_ima")
    assert dec is not None and dec.dtype == np.int16 and dec.size == pcm.size
    snr = _snr_db(pcm.astype(np.float64) / 32768.0, dec)
    assert snr >= 20.0, snr


def test_adpcm_odd_length_pads_and_empty_rejects():
    """Odd sample counts pad by repeating the last sample (audioop would
    silently drop the trailing nibble — both paths must emit the identical
    complete stream); empty/missing payloads are undecodable."""
    pcm = np.array([100, -200, 300], dtype=np.int16)
    payload = audio_core.encode_adpcm_ima(pcm)
    assert len(payload) == 2  # 4 samples after padding
    padded = np.array([100, -200, 300, 300], dtype=np.int16)
    assert payload == audio_core._adpcm_encode_py(padded)
    assert audio_core.decode_adpcm_ima(b"") is None
    assert audio_core.decode_adpcm_ima(None) is None


def test_adpcm_end_to_end_scoring_batch():
    """ADPCM clips flow through the fused scoring batch as first-class
    decodable codecs (alias + allowlist + registry all live), with the
    decoded-duration recompute agreeing with the stored duration."""
    import pandas as pd

    from engine.operators import scoring

    sr = 8000
    pcm = (_tone(sr, 0.8, 300.0, 0.4) * 32767.0).astype("<i2")
    pdf = pd.DataFrame({
        "clip_id": ["ad0", "ad1", "ad_empty"],
        "part_id": pd.array([0, 0, 0], dtype="int32"),
        "bytes": [audio_core.encode_adpcm_ima(pcm),
                  audio_core.encode_adpcm_ima(pcm), b""],
        "sr_hz": pd.array([sr] * 3, dtype="Int32"),
        "dur_ms": pd.array([800] * 3, dtype="Int32"),
        "codec": ["DVI4", " adpcm", "Ima_ADPCM"],  # aliases exercised
        "transcript": ["a plain enough test sentence here ok"] * 3,
    })
    out = scoring._score_batch(pdf).set_index("clip_id")
    for cid in ("ad0", "ad1"):
        assert not bool(out.loc[cid, "undecodable"])
        assert int(out.loc[cid, "n_samples"]) == pcm.size
    assert bool(out.loc["ad_empty", "undecodable"])
