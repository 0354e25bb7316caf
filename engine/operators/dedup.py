"""Duplicate detection: exact, audio-key near-dup, SimHash-band near-dup.

Graft of the reference's duplicate-run merge (Step5-Attribute-Redundancy.R:
4-13,19-42: flag identical-neighbor runs, keep one row per run) and the
small-spatial-gap snap (Step4:310-361), made order-explicit: the canonical
member of any duplicate group is the lexicographically-least clip_id, so
results are independent of partitioning and iteration order (the reference
is order-dependent by construction; we are not allowed to be).

Three flags, all computed WITHOUT the audio payload (checksums/simhash come
from the fused scoring UDF):

  EXACT_DUP   clip_id != min(clip_id) over (pcm_checksum, transcript)
  audio dup   clip_id != min(clip_id) over pcm_checksum   (same audio,
              possibly edited transcript — the dominant near-dup mode for
              audio corpora; an exact-hash shuffle, perfectly scalable)
  simhash dup exists Y: Y.clip_id < X.clip_id, simhash hamming(X,Y) <= 3,
              via 4x16-bit band self-join (exact recall for radius 3 by
              pigeonhole; see simhash_core)

NEAR_DUP flag = audio dup OR simhash dup.  EXACT_DUP precedes NEAR_DUP in
RULE_ORDER, so exact copies report EXACT_DUP even though both flags are
true (the oracle mirrors this).

Scale notes: the two hash-group flags are window mins over a shuffle by
key — non-null checksums are uniform (hashes), and the one guaranteed-hot
key, NULL (payload missing/undecodable), is salted so it spreads instead
of landing on a single reducer.  The band join is the only
potentially-skewed shuffle in the engine: band values of near-empty
transcripts collapse to few buckets, so rows whose scrubbed transcript is
empty (simhash == 0) are excluded (they die at TXT_EMPTY anyway), band
buckets wider than config.SIMHASH_BUCKET_CAP are skipped, and AQE skew-join
handles residual hot bands (SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config


def with_dup_flags(scored: DataFrame) -> DataFrame:
    """scored (from scoring.score_clips) -> + f_EXACT_DUP, f_NEAR_DUP."""
    has_payload = F.col("pcm_checksum").isNotNull()

    # Null-checksum rows (missing/undecodable payloads) can never be audio
    # dups, but an unsalted window would hash every one of them into a
    # SINGLE partition — at 10^12 rows with 1% undecodable that is 10^10
    # rows sorted on one reducer.  Salt spreads the null key across
    # N_SALT buckets; non-null keys keep salt 0 so their groups are
    # unchanged, and the guarded flags below never read the null-partition
    # window values, so results are identical.
    salt = F.when(has_payload, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("clip_id"), F.lit(config.N_SALT)).cast("int"))

    w_exact = Window.partitionBy("pcm_checksum", "_dup_salt", "transcript")
    w_audio = Window.partitionBy("pcm_checksum", "_dup_salt")

    min_exact = F.min("clip_id").over(w_exact)
    min_audio = F.min("clip_id").over(w_audio)

    f_exact = F.when(has_payload & F.col("transcript").isNotNull(),
                     F.col("clip_id") != min_exact).otherwise(F.lit(False))
    f_audio = F.when(has_payload,
                     F.col("clip_id") != min_audio).otherwise(F.lit(False))

    # audio window FIRST: hash-partitioning by (pcm_checksum, _dup_salt)
    # also satisfies the (pcm_checksum, _dup_salt, transcript) clustering,
    # so Catalyst plans ONE exchange + two sorts instead of two exchanges
    df = (scored
          .withColumn("_dup_salt", salt)
          .withColumns({"_f_audio_dup": f_audio,
                        "f_" + config.RULE_EXACT_DUP: f_exact})
          .drop("_dup_salt"))

    # --- SimHash band self-join (candidates exact for hamming <= 3) -------
    cand = (df
            .where(F.col("simhash") != 0)
            .select("clip_id", "simhash",
                    F.posexplode(F.array(*[F.col(f"band{i}") for i in range(4)]))
                    .alias("band_idx", "band_val")))
    # skew guard (SURVEY §7): skip band buckets wider than the cap — a
    # degenerate band value must not turn the self-join quadratic; the
    # window count shares the join's own hash partitioning by band key
    w_bucket = Window.partitionBy("band_idx", "band_val")
    cand = (cand.withColumn("_bw", F.count("*").over(w_bucket))
            .where(F.col("_bw") <= config.SIMHASH_BUCKET_CAP)
            .drop("_bw"))
    left = cand.alias("a")
    right = cand.alias("b")
    pairs = (left.join(
                right,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("b.clip_id") < F.col("a.clip_id")))
             .where(F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                    <= config.SIMHASH_HAMMING_MAX)
             .select(F.col("a.clip_id").alias("clip_id"))
             .distinct())
    sim_dups = pairs.withColumn("_f_simhash_dup", F.lit(True))

    out = (df.join(sim_dups, "clip_id", "left")
             .withColumn(
                 "f_" + config.RULE_NEAR_DUP,
                 F.col("_f_audio_dup")
                 | F.coalesce(F.col("_f_simhash_dup"), F.lit(False)))
             .drop("_f_audio_dup", "_f_simhash_dup"))
    return out
