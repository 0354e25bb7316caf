"""Write tests/data/adpcm_ima_golden.npz: a seeded int16 PCM signal, its
IMA ADPCM bytes from the stdlib audioop C encoder, and audioop's expansion
of those bytes.  tests/test_audio.py pins the engine's pure-Python ADPCM
encoder and decoder against the pair on every Python, including 3.13+
where audioop no longer exists.  Needs Python <= 3.12:

    python tools/make_adpcm_golden.py
"""

from __future__ import annotations

import audioop
import os

import numpy as np

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "data", "adpcm_ima_golden.npz")


def golden_pcm(seed: int = 2024) -> np.ndarray:
    """1,024 samples that walk the step index across its whole range:
    full-scale noise (index pinned at 88, valpred clamped at both rails),
    silence (index back to 0), a quiet tone, and rail-to-rail steps."""
    rng = np.random.default_rng(seed)
    noise = rng.integers(-32768, 32768, 256)
    silence = np.zeros(256, dtype=np.int64)
    tone = np.round(300 * np.sin(np.arange(256) * 2 * np.pi / 37))
    rails = np.tile([32767, 32767, -32768, -32768], 64)
    return np.concatenate([noise, silence, tone, rails]).astype(np.int16)


def main() -> None:
    pcm = golden_pcm()
    adpcm, _ = audioop.lin2adpcm(pcm.tobytes(), 2, None)
    decoded, _ = audioop.adpcm2lin(adpcm, 2, None)
    np.savez(OUT, pcm=pcm, adpcm=np.frombuffer(adpcm, dtype=np.uint8),
             decoded=np.frombuffer(decoded, dtype=np.int16))
    print(f"wrote {OUT}: {pcm.size} samples, {len(adpcm)} ADPCM bytes")


if __name__ == "__main__":
    main()
