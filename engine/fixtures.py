"""Deterministic synthetic `clips` fixture generator (FIXTURES.md Table 1).

Seeded (default 42), no wall-clock, no external data.  Produces a pandas
frame in the exact `input_hint` shape (minus part_id, which is stamped by
Spark with schema.part_id_col at write time so it matches the
engine's partitioning bit-for-bit) plus a parallel `planted` frame tagging
each row's defect class for per-rule coverage tests.

Audio signals are 1-3 seeded sine tones + uniform noise, s16le-quantized,
so decode is exact and the SNR >= 30 dB invariant is checkable without
codec libs.  Rows whose codec canonicalizes to flac/opus/mp3 carry their
PCM ENCODED with the engine's stand-in compressed codec
(audio_core.encode_fake_compressed) — the decode dispatcher is exercised
for real, and a planted UNDECODABLE class carries corrupt compressed bytes
(wrong magic / truncated / non-stream garbage) that every decoder must
reject.  `dur profile` knobs bound payload size in the sandbox; the schema
and defect taxonomy are identical at every scale.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import audio_core, config, templates

LANG_WEIGHTS = {"L1": 0.50, "L2": 0.20, "L3": 0.15, "L4": 0.10, "L5": 0.05}
CODEC_WEIGHTS = {"pcm_s16le": 0.60, "flac": 0.20, "opus": 0.12, "mp3": 0.08}
SR_WEIGHTS = {16000: 0.70, 8000: 0.10, 22050: 0.08, 44100: 0.07, 48000: 0.05}

# dirty-but-canonicalizable codec spellings planted into KEPT rows
DIRTY_CODEC_VARIANTS = {"mp3": ["MP3", "mpeg3"], "flac": ["Flac ", " FLAC"],
                        "pcm_s16le": ["PCM", "wav"], "opus": ["OPUS", "ogg_opus"],
                        "mulaw": ["ULAW ", "PCM_MULAW", "g711U"],
                        "alaw": ["ALAW", " g711a", "PCM_ALAW"],
                        "adpcm_ima": ["ADPCM", "DVI4", " Ima_ADPCM"]}

# telephony codec mix (codec_weights override): mostly real compressed
# streams — G.711 companded plus IMA ADPCM — with some raw pcm
TELEPHONY_CODEC_WEIGHTS = {"mulaw": 0.40, "alaw": 0.25, "adpcm_ima": 0.15,
                           "pcm_s16le": 0.20}

# bump whenever generation logic changes: cached fixture tables on disk are
# keyed by (n, seed, FIXTURES_VERSION) so stale caches regenerate
FIXTURES_VERSION = 5

DEFECT_CLASSES = [
    "DUR_BOUNDS", "SR_INVALID", "CODEC_INVALID", "UNDECODABLE", "DUR_MISMATCH",
    "SILENT_AUDIO",
    "TXT_EMPTY", "TXT_LEN", "CHAR_RATIO", "LID_MISMATCH", "HIGH_PPL",
    "TOXIC_SEVERE",
]
# kept-but-rewritten classes.  REPAIRABLE: clean transcript damaged with
# whitespace floods + control chars so CHAR_RATIO fires on the raw text,
# and the repair stage's normalization rescues it (kept, repaired=True).
KEPT_CLASSES = ["PII", "TOXIC_MILD", "DIRTY_CODEC", "REPAIRABLE"]

# bare PII tokens (no foreign-language context words, so the scrubbed
# placeholder is a single OOV token inside otherwise-clean native text)
PII_SAMPLES = [
    "jane.doe+spam@example-mail.com",
    "612-555-0188",
    "(415) 555-0134",
    "+15125550199",
    "523-04-1234",
    "4242 4242 4242 4242",
    "4012-8888-8888-1881",
]


@dataclass
class Profile:
    """Duration/size knobs.  `fixtures` follows FIXTURES.md (median ~4 s);
    `test`/`bench` bound payload bytes for the sandbox."""
    dur_median_ms: float
    dur_sigma: float
    dur_min_ms: int
    dur_max_ms: int


PROFILES = {
    "fixtures": Profile(4000.0, 0.6, 800, 30000),
    "test": Profile(1200.0, 0.5, 800, 4000),
    "bench": Profile(700.0, 0.4, 400, 2000),
}


def _weighted(rng: np.random.Generator, table: dict, size: int) -> np.ndarray:
    keys = list(table)
    p = np.array([table[k] for k in keys], dtype=float)
    p /= p.sum()
    return rng.choice(np.array(keys, dtype=object), size=size, p=p)


def _synth_pcm(rng: np.random.Generator, sr: int, n_samples: int) -> bytes:
    """1-3 sine tones + uniform noise, overall amplitude 0.1-0.9, s16le."""
    if n_samples <= 0:
        return b""
    n_tones = int(rng.integers(1, 4))
    amp_total = float(rng.uniform(0.1, 0.9))
    t = np.arange(n_samples, dtype=np.float32) / float(max(sr, 1))
    sig = np.zeros(n_samples, dtype=np.float32)
    hi = max(200.0, min(4000.0, sr / 2.0 - 100.0))
    for _ in range(n_tones):
        f = float(rng.uniform(80.0, hi))
        ph = float(rng.uniform(0, 2 * np.pi))
        sig += np.sin(2 * np.pi * f * t + ph).astype(np.float32)
    sig *= amp_total / n_tones
    sig += rng.uniform(-0.01, 0.01, size=n_samples).astype(np.float32)
    np.clip(sig, -0.999, 0.999, out=sig)
    return (sig * 32767.0).astype("<i2").tobytes()


def _synth_silent_pcm(rng: np.random.Generator, sr: int, n_samples: int) -> bytes:
    """Near-silent payload for the SILENT_AUDIO defect class: +-3 LSB noise
    (frame rms ~5e-5 of full scale, 20x under SILENCE_FRAME_RMS).  25% of
    cases carry one short tone burst (~2% of samples) so the planted
    silence_ratio spans [0.95, 1.0] — strictly above SILENCE_RATIO_MAX."""
    if n_samples <= 0:
        return b""
    sig = rng.integers(-3, 4, size=n_samples).astype(np.float32)
    if rng.random() < 0.25 and n_samples > 400:
        blen = max(50, int(n_samples * 0.02))
        pos = int(rng.integers(0, n_samples - blen))
        t = np.arange(blen, dtype=np.float32) / float(max(sr, 1))
        sig[pos:pos + blen] += 8000.0 * np.sin(
            2 * np.pi * float(rng.uniform(200.0, 1000.0)) * t)
    return np.clip(sig, -32767, 32767).astype("<i2").tobytes()


def _clean_transcript(rng: np.random.Generator, lang: str, dur_ms: int) -> str:
    """Couple transcript length to duration so chars/sec lands in-bounds.
    Word-granular: accumulate template-sentence prefixes (sentence starts
    keep the bigram LM happy) and stop at the first word boundary past the
    target, so overshoot is at most one word."""
    target_cps = float(rng.uniform(6.0, 26.0))
    target_chars = int(np.clip(target_cps * dur_ms / 1000.0, 6, 4500))
    sents = templates.SENTENCES[lang]
    words: list[str] = []
    total = 0
    while True:
        s = sents[int(rng.integers(0, len(sents)))].split()
        for w in s:
            add = len(w) + (1 if words else 0)
            if total + add > target_chars and total >= 6:
                return " ".join(words)
            words.append(w)
            total += add


def _insert_words(rng: np.random.Generator, text: str, insert: str) -> str:
    words = text.split()
    pos = int(rng.integers(0, len(words) + 1))
    return " ".join(words[:pos] + insert.split() + words[pos:])


def generate_clips(n_clips: int = 2000, seed: int = 42,
                   profile: str = "test",
                   defect_rate: float = 0.015,
                   kept_rate: float = 0.015,
                   dup_rate: float = 0.01,
                   with_audio: bool = True,
                   start_index: int = 0,
                   codec_weights: dict | None = None,
                   ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """-> (clips_df, planted_df).  clip_id lexicographic == generation order.

    `start_index` offsets the clip-id space so large tables can be built
    from independent seeded chunks with globally-unique, ordered ids."""
    rng = np.random.default_rng(seed)
    prof = PROFILES[profile]

    langs = _weighted(rng, LANG_WEIGHTS, n_clips)
    codecs = _weighted(rng, codec_weights or CODEC_WEIGHTS, n_clips)
    srs = _weighted(rng, SR_WEIGHTS, n_clips).astype(np.int64)
    durs = np.exp(rng.normal(np.log(prof.dur_median_ms), prof.dur_sigma, n_clips))
    durs = np.clip(durs, prof.dur_min_ms, prof.dur_max_ms).astype(np.int64)

    # one defect class per row, non-overlapping (FIXTURES.md)
    n_slots = len(DEFECT_CLASSES) * [defect_rate] + len(KEPT_CLASSES) * [kept_rate]
    p_clean = 1.0 - sum(n_slots)
    classes = rng.choice(
        np.array(["clean"] + DEFECT_CLASSES + KEPT_CLASSES, dtype=object),
        size=n_clips, p=np.array([p_clean] + n_slots))

    rows, planted = [], []
    for i in range(n_clips):
        clip_id = f"c{start_index + i:016x}"
        lang, codec, sr, dur = str(langs[i]), str(codecs[i]), int(srs[i]), int(durs[i])
        cls = str(classes[i])
        transcript = _clean_transcript(rng, lang, dur)
        pcm_factor = 1.0

        if cls == "DUR_BOUNDS":
            dur = int(rng.choice([0, -100, 5, 150, 4_000_000, 200_000]))
        elif cls == "SR_INVALID":
            sr = int(rng.choice([0, -1, 3, 96000]))
            dur = min(dur, 2000)
        elif cls == "CODEC_INVALID":
            codec = str(rng.choice(["xvc9", "", "av1aud", "codec?"]))
        elif cls == "UNDECODABLE":
            # valid compressed codec label; payload corrupted after synth
            codec = str(rng.choice(["flac", "opus", "mp3"]))
        elif cls == "DUR_MISMATCH":
            pcm_factor = float(rng.choice([0.5, 0.8, 1.3, 2.0]))
        elif cls == "SILENT_AUDIO":
            pass  # payload replaced below; metadata/transcript stay clean
        elif cls == "TXT_EMPTY":
            transcript = str(rng.choice(["", "   ", "\t \n"]))
        elif cls == "TXT_LEN":
            if rng.random() < 0.7:
                transcript = transcript[: int(rng.integers(1, 3))]
            else:
                while len(transcript) <= 5000:
                    transcript += " " + _clean_transcript(rng, lang, dur)
                transcript = transcript[:6000]
        elif cls == "CHAR_RATIO":
            v = rng.random()
            if v < 0.4:  # digit/punct flood -> alpha ratio < 0.5
                flood = "".join(rng.choice(list("0123456789#$%!"), size=len(transcript) or 40))
                transcript = flood[: max(len(transcript), 40)]
            elif v < 0.7:  # impossible rate > 50 chars/sec
                dur = 1000
                while len(transcript) < 80:
                    transcript += " " + transcript
            else:  # rate < 0.2 chars/sec
                transcript = transcript.split()[0][:4].ljust(3, "a")
                dur = max(dur, 30000) if profile == "fixtures" else prof.dur_max_ms * 8
        elif cls == "LID_MISMATCH":
            # interleave two languages at roughly the original length
            other = str(rng.choice([l for l in templates.LANGS if l != lang]))
            w1 = transcript.split()
            w2 = _clean_transcript(rng, other, dur).split()
            half = max(3, len(w1) // 2)
            mixed = []
            for k in range(half):
                mixed.append(w1[k % len(w1)])
                mixed.append(w2[k % len(w2)])
            transcript = " ".join(mixed)
        elif cls == "HIGH_PPL":
            words = transcript.split()
            while len(words) < 12:
                words += _clean_transcript(rng, lang, dur).split()
            perm = rng.permutation(len(words))
            transcript = " ".join(words[j] for j in perm)
        elif cls in ("TOXIC_SEVERE", "PII", "TOXIC_MILD"):
            # ensure the host transcript is long enough that one inserted
            # OOV token doesn't dominate the LID/PPL scores
            if len(transcript.split()) < 14:
                transcript = _clean_transcript(rng, lang, max(dur, 8000))
            if cls == "PII":
                insert = PII_SAMPLES[int(rng.integers(0, len(PII_SAMPLES)))]
            elif cls == "TOXIC_MILD":
                insert = str(rng.choice(list(templates.TOXIC_MILD)))
            else:
                insert = str(rng.choice(list(templates.TOXIC_SEVERE)))
            transcript = _insert_words(rng, transcript, insert)
        elif cls == "DIRTY_CODEC":
            canon = str(codecs[i])
            codec = str(rng.choice(DIRTY_CODEC_VARIANTS[canon]))
        elif cls == "REPAIRABLE":
            # whitespace/control damage: every word gap becomes a long
            # ASCII-whitespace run (sometimes with a control char), pushing
            # alpha_ratio well under 0.5 while the content stays clean —
            # normalization restores a passing transcript
            words = transcript.split()
            if len(words) < 6:
                words = _clean_transcript(rng, lang, max(dur, 6000)).split()
            parts = [words[0]]
            for w in words[1:]:
                gap = " " * int(rng.integers(8, 14))
                if rng.random() < 0.2:
                    gap = gap[:2] + "\x07" + gap[2:]
                if rng.random() < 0.15:
                    gap = "\t" + gap
                parts.append(gap + w)
            transcript = "".join(parts) + " " * int(rng.integers(0, 20))

        # cps guard: mutations that change transcript length (PII/toxic
        # inserts, interleaves, shuffle padding) must not trip CHAR_RATIO —
        # retarget duration to ~20 chars/sec for every class except the ones
        # whose point is a broken duration or ratio
        if cls not in ("DUR_BOUNDS", "CHAR_RATIO", "TXT_EMPTY") and transcript:
            cps = len(transcript) / (dur / 1000.0) if dur > 0 else None
            if cps is not None and not (1.0 <= cps <= 45.0):
                dur = int(np.clip(len(transcript) / 20.0 * 1000.0, 300, 120_000))

        # payload synthesis (bounded for degenerate durations)
        synth_sr = sr if sr >= 1000 else 16000
        nominal_ms = dur if 0 < dur <= prof.dur_max_ms * 8 else min(
            max(dur, 500), 2000) if dur > 0 else 500
        n_samples = int(round(synth_sr * nominal_ms / 1000.0 * pcm_factor))
        n_samples = min(n_samples, synth_sr * 300)  # hard cap 5 min
        if not with_audio:
            payload = None
        elif cls == "SILENT_AUDIO":
            payload = _synth_silent_pcm(rng, synth_sr, n_samples)
        else:
            payload = _synth_pcm(rng, synth_sr, n_samples)

        # honest container encoding: compressed-canon codecs carry stand-in
        # compressed bytes, never raw PCM under a flac/opus/mp3 label;
        # G.711 rows carry REAL companded streams (audio_core.encode_g711)
        canon = config.canon_codec(codec)
        if payload is not None and canon in audio_core.FAKE_MAGIC:
            payload = audio_core.encode_fake_compressed(payload, canon)
        elif payload is not None and canon in ("mulaw", "alaw"):
            payload = audio_core.encode_g711(
                np.frombuffer(payload, dtype="<i2"), canon)
        elif payload is not None and canon == "adpcm_ima":
            payload = audio_core.encode_adpcm_ima(
                np.frombuffer(payload, dtype="<i2"))
        if cls == "UNDECODABLE" and payload is not None:
            v = rng.random()
            if v < 0.4:  # right magic, non-stream garbage (real-flac shape)
                payload = audio_core.FAKE_MAGIC[canon] + bytes(
                    rng.integers(0, 256, size=256).astype(np.uint8).tobytes())
            elif v < 0.7:  # truncated stream
                payload = payload[: max(len(audio_core.FAKE_MAGIC[canon]) + 4,
                                        len(payload) // 2)][:-3]
            else:  # wrong container magic
                payload = b"OggS" + payload[4:]

        rows.append((clip_id, payload, sr, dur, codec, transcript))
        planted.append((clip_id, cls, lang))

    # duplicate planting: appended copies get larger clip_ids -> non-canonical
    base_n = len(rows)
    n_exact = max(1, int(base_n * dup_rate / 2)) if dup_rate > 0 else 0
    n_near = max(1, int(base_n * dup_rate / 2)) if dup_rate > 0 else 0
    clean_idx = [k for k in range(base_n) if planted[k][1] == "clean"]
    nxt = start_index + base_n
    if clean_idx and n_exact:
        for src in rng.choice(clean_idx, size=min(n_exact, len(clean_idx)), replace=False):
            s = rows[int(src)]
            for _ in range(int(rng.integers(1, 3))):
                rows.append((f"c{nxt:016x}",) + s[1:])
                planted.append((f"c{nxt:016x}", "EXACT_DUP", planted[int(src)][2]))
                nxt += 1
    if clean_idx and n_near:
        for src in rng.choice(clean_idx, size=min(n_near, len(clean_idx)), replace=False):
            s = rows[int(src)]
            lang_s = planted[int(src)][2]
            words = s[5].split()
            vocab = templates.VOCABS[lang_s]
            n_edits = int(rng.integers(1, 3))
            for _ in range(n_edits):
                if words:
                    j = int(rng.integers(0, len(words)))
                    words[j] = vocab[int(rng.integers(0, len(vocab)))]
            rows.append((f"c{nxt:016x}", s[1], s[2], s[3], s[4], " ".join(words)))
            planted.append((f"c{nxt:016x}", "NEAR_DUP", lang_s))
            nxt += 1

    clips = pd.DataFrame(rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms",
                                        "codec", "transcript"])
    clips["sr_hz"] = clips["sr_hz"].astype("int32")
    clips["dur_ms"] = clips["dur_ms"].astype("int32")
    planted_df = pd.DataFrame(planted, columns=["clip_id", "defect", "lang"])
    return clips, planted_df


SPEAKER_REGIONS = ["APAC", "EMEA", "LATAM", "NA"]
SPEAKER_DEVICES = ["desktop", "mobile", "studio"]


def generate_speakers(n_speakers: int = 50, seed: int = 42) -> pd.DataFrame:
    """Deterministic speaker/source dimension table for the Step6-graft
    demographics join (evaluation.corpus_report_by_dim): speaker_id is the
    hash-assignment key pmod(xxhash64(clip_id), n_speakers)."""
    rng = np.random.default_rng(seed + 7)
    return pd.DataFrame({
        "speaker_id": np.arange(n_speakers, dtype=np.int32),
        "region": rng.choice(SPEAKER_REGIONS, size=n_speakers).astype(object),
        "device": rng.choice(SPEAKER_DEVICES, size=n_speakers).astype(object),
    })


_STAGE_ROW_GROUP_BYTES = 16 << 20


def write_clips_parquet(spark, clips_pd: pd.DataFrame, path: str,
                        mode: str = "overwrite") -> None:
    """Stamp part_id with the engine's partitioner (schema.part_id_col) and
    write partitioned parquet (the Iceberg-layout fallback, SURVEY.md §7.0).

    The frame is staged as one parquet file with pyarrow and read back by
    Spark, so the payload reaches the executors through a file scan rather
    than inside the tasks (createDataFrame from pandas ships the rows in
    the task binaries: ~24 MB per task for a 12k-clip bench group).  The
    stage is a local temp dir: fixture tables are written in local mode,
    where the executors share the driver's filesystem."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from . import schema

    input_schema = T.StructType(schema.CLIPS_SCHEMA.fields[:-1])
    table = pa.Table.from_pandas(clips_pd[input_schema.names],
                                 to_arrow_schema(input_schema),
                                 preserve_index=False)
    # Spark's vectorized reader holds a whole row group's payloads in one
    # batch (up to 4096 rows): bound the group in bytes, not rows
    rows = max(1, _STAGE_ROW_GROUP_BYTES * table.num_rows
               // max(1, table.nbytes))
    with tempfile.TemporaryDirectory(prefix="clips-stage-") as stage:
        pq.write_table(table, f"{stage}/clips.parquet", row_group_size=rows)
        df = (spark.read.schema(input_schema).parquet(stage)
              .withColumn("part_id", schema.part_id_col()))
        df.repartition("part_id").write.mode(mode).partitionBy("part_id") \
            .parquet(path)
