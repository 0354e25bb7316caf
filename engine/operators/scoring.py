"""The fused per-clip scoring stage: ONE `mapInPandas` iterator UDF doing
PCM decode + regex scrub + LID + perplexity + SimHash per Arrow batch.

Design notes (scale-first):

  * One Python crossing.  Decode features, scrub, LID, PPL and SimHash all
    need Python; doing them in a single iterator UDF means one Arrow
    round-trip instead of four (UDFs are the slow path — everything else in
    the pipeline is native Column expressions).
  * `bytes` never comes back.  The UDF consumes the audio payload and emits
    only scalar features + a blake2b-128 checksum, so every downstream stage
    (dedup joins, decision, sink) moves ~100 bytes/row instead of ~100 KB —
    the single most important data-volume decision at 10^12-clip scale.
    (Graft of the reference carrying decoded routes in a side structure
    keyed by id rather than widening the main table,
    Step1-Read-Data-Formatting.R:16-34.)
  * Models (LID trigram tables, bigram LM, compiled scrub regexes) are
    module-level in the worker process — imported once per executor, the
    broadcast-artifact pattern of fastText/KenLM scoring (north_star).
  * All rows get all scores (no short-circuit): defect rates are low, so
    skipping scoring for already-failed rows saves <15% Python time but
    would make `rule_flags` incomplete and the oracle comparison
    conditional.  Revisit only if profiling says otherwise.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import audio_core, config, lid_core, ppl_core, scrub_core, simhash_core
from . import repair

SCORED_FIELDS = [
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("canon_codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
    T.StructField("repaired", T.BooleanType(), False),
    T.StructField("decoded_dur_ms", T.IntegerType(), True),
    T.StructField("n_samples", T.IntegerType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("clipping_ratio", T.DoubleType(), True),
    T.StructField("pcm_checksum", T.StringType(), True),
    T.StructField("undecodable", T.BooleanType(), False),
    T.StructField("silence_ratio", T.DoubleType(), True),
    T.StructField("spectral_flatness", T.DoubleType(), True),
    T.StructField("mel_profile", T.ArrayType(T.FloatType()), True),
    T.StructField("scrubbed_transcript", T.StringType(), True),
    T.StructField("n_scrub_hits", T.IntegerType(), False),
    T.StructField("tox_severe", T.BooleanType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("lid_margin", T.DoubleType(), False),
    T.StructField("ppl_score", T.DoubleType(), False),
    T.StructField("simhash", T.LongType(), False),
]
SCORED_SCHEMA = T.StructType(
    SCORED_FIELDS
    + [T.StructField(f"band{i}", T.IntegerType(), False) for i in range(4)]
)


def _score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    dec_dur = [None] * n
    n_samp = [None] * n
    rms = [None] * n
    clip_ratio = [None] * n
    checksum = [None] * n
    undec = [False] * n
    silence = [None] * n
    flatness = [None] * n
    mel = [None] * n
    canon = [config.canon_codec(c) for c in pdf["codec"]]
    for i, (payload, sr, codec) in enumerate(
            zip(pdf["bytes"], pdf["sr_hz"], canon)):
        sr_i = int(sr) if pd.notna(sr) else None
        p = bytes(payload) if payload is not None else None
        # analyze() picks the decoder by canonical codec and decodes +
        # float32-casts the payload once for both feature families (the
        # payload is the dominant per-row volume); undecodable bytes yield
        # null features, never PCM-interpreted garbage
        u, (d, ns, r, cr, ck), (sil, flat, mp) = audio_core.analyze(
            p, sr_i, codec)
        undec[i] = u
        dec_dur[i], n_samp[i], rms[i], clip_ratio[i], checksum[i] = d, ns, r, cr, ck
        silence[i], flatness[i], mel[i] = sil, flat, mp

    # repair-then-rescore fused into this one crossing (repair.py module
    # docstring explains why no separate rescore stage exists): candidates
    # get normalized here, so scrub/LID/PPL/simhash below — and every
    # downstream native rule — score the FINAL transcript
    durs = [int(d) if pd.notna(d) else None for d in pdf["dur_ms"]]
    transcripts, repaired = repair.repair_batch(pdf["transcript"].tolist(), durs)
    scrubbed, hits, severe = scrub_core.scrub_batch(transcripts)
    langs, margins = lid_core.score_batch(scrubbed)
    ppls = ppl_core.perplexity_batch(scrubbed, langs)

    sims, band_vals = simhash_core.dedup_batch(scrubbed)

    out = pd.DataFrame({
        "clip_id": pdf["clip_id"].values,
        "part_id": pdf["part_id"].values,
        "sr_hz": pdf["sr_hz"].values,
        "dur_ms": pdf["dur_ms"].values,
        "codec": pdf["codec"].values,
        # the one codec canonicalization: CODEC_INVALID reads this column,
        # so the decoder choice and the rule can never disagree
        "canon_codec": canon,
        "transcript": transcripts,
        "repaired": repaired,
        "decoded_dur_ms": pd.array(dec_dur, dtype="Int32"),
        "n_samples": pd.array(n_samp, dtype="Int32"),
        "rms": pd.array(rms, dtype="Float64"),
        "clipping_ratio": pd.array(clip_ratio, dtype="Float64"),
        "pcm_checksum": checksum,
        "undecodable": undec,
        "silence_ratio": pd.array(silence, dtype="Float64"),
        "spectral_flatness": pd.array(flatness, dtype="Float64"),
        "mel_profile": mel,
        "scrubbed_transcript": scrubbed,
        "n_scrub_hits": pd.array(hits, dtype="int32"),
        "tox_severe": severe,
        "lang": langs,
        "lid_margin": margins,
        "ppl_score": ppls,
        "simhash": sims,
    })
    for i in range(4):
        out[f"band{i}"] = band_vals[:, i]
    return out


def _score_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield _score_batch(pdf)


def score_clips(clips: DataFrame) -> DataFrame:
    """clips (with part_id) -> scored DataFrame, `bytes` consumed here."""
    cols = ["clip_id", "part_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    return clips.select(*cols).mapInPandas(_score_iter, schema=SCORED_SCHEMA)
