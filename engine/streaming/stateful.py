"""Custom stateful streaming operators: TTL-bounded dup state.

`stream_pipeline` handles ingest (foreachBatch, full fused pipeline per
micro-batch, dups flagged within the batch only).  This module adds the
*custom stateful operator* surface (`applyInPandasWithState`) that
jobs/stream_dup_monitor.py ships.

`stream_dup_flags` and `stream_neardup_flags` narrow that lambda split
(stream_pipeline docstring):
an exact-audio-dup flag (checksum state) and a textual near-dup flag
(simhash band-bucket state) against ALL clips seen within a state TTL,
not just the current micro-batch.  State is one marker per distinct
checksum / at most SIMHASH_BUCKET_CAP signatures per band bucket,
evicted by processing-time timeout, so the store is bounded by the
arrival rate x TTL — the standard bounded-state compromise.  Canonical
semantics differ from batch on purpose: the stream cannot retract an
emitted row, so first-ARRIVAL is canonical, while the batch job's
canonical is the global min clip_id; the reconcile job remains the
authority (its diff report treats dup-rule flips as expected).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import config, simhash_core

# ---------------------------------------------------------------------------
# cross-batch exact-dup flag with TTL-bounded state
# ---------------------------------------------------------------------------

DUP_TTL_MS = config.STREAM_DUP_TTL_MS  # evict a marker after this idle span

DUP_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("f_stream_dup", T.BooleanType(), False),
])
_DUP_STATE = T.StructType([T.StructField("seen", T.BooleanType(), False)])


def _dup_update(key, pdfs, state: GroupState):
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame({"clip_id": pd.Series(dtype="object"),
                            "f_stream_dup": pd.Series(dtype="bool")})
        return
    seen = state.exists
    ids: list = []
    flags: list = []
    for pdf in pdfs:
        # sort for within-batch determinism: the batch's smallest clip_id
        # is its canonical when the checksum is first seen
        for cid in sorted(pdf["clip_id"].tolist()):
            ids.append(cid)
            flags.append(bool(seen))
            seen = True
    state.update((True,))
    state.setTimeoutDuration(DUP_TTL_MS)
    yield pd.DataFrame({"clip_id": ids, "f_stream_dup": flags})


def _neardup_update(key, pdfs, state: GroupState):
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame({"clip_id": pd.Series(dtype="object"),
                            "band_no": pd.Series(dtype="int32"),
                            "f_stream_neardup": pd.Series(dtype="bool")})
        return
    sims: list = list(state.get[0]) if state.exists else []
    seen = set(sims)
    ids: list = []
    bnos: list = []
    flags: list = []
    band_no = int(key[0])
    for pdf in pdfs:
        # within-batch determinism: smallest clip_id first, so the batch's
        # first arrival in a bucket is its canonical (same convention as
        # the exact-dup state above)
        for cid, sim in sorted(zip(pdf["clip_id"].tolist(),
                                   pdf["simhash"].tolist())):
            sim = int(sim)
            # bounded state AND bounded work: at most SIMHASH_BUCKET_CAP
            # signatures per bucket, and once a bucket saturates (a
            # degenerate band value — boilerplate text) new arrivals skip
            # the verify scan entirely, mirroring the batch path's
            # skip-oversized-bucket semantics (operators/dedup.py): per-
            # arrival cost is O(cap) before saturation, O(1) after, and a
            # genuine near-dup still flags through its other, colder bands
            saturated = len(sims) >= config.SIMHASH_BUCKET_CAP
            hit = (not saturated
                   and any(simhash_core.hamming(sim, s)
                           <= config.SIMHASH_HAMMING_MAX for s in sims))
            ids.append(cid)
            bnos.append(band_no)
            flags.append(bool(hit))
            if not saturated and sim not in seen:
                sims.append(sim)
                seen.add(sim)
    state.update((sims,))
    state.setTimeoutDuration(DUP_TTL_MS)
    yield pd.DataFrame({"clip_id": ids,
                        "band_no": pd.array(bnos, dtype="int32"),
                        "f_stream_neardup": flags})


NEARDUP_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("band_no", T.IntegerType(), False),
    T.StructField("f_stream_neardup", T.BooleanType(), False),
])
_NEARDUP_STATE = T.StructType([
    T.StructField("sims", T.ArrayType(T.LongType()), False)])


def stream_neardup_flags(scored_stream: DataFrame) -> DataFrame:
    """streaming scored clips -> (clip_id, band_no, f_stream_neardup):
    True iff a clip within SIMHASH_HAMMING_MAX of this one shared this
    band earlier in the stream (within DUP_TTL_MS) — the textual near-dup
    extension of `stream_dup_flags`, same TTL-bounded state shape.

    Each clip emits one row per simhash band (a near-dup pair shares at
    least one band by the pigeonhole bound, simhash_core docstring), so a
    clip's stream-level flag is the OR of its band rows — which the
    consumer folds in its (batch) sink: an append-mode stream cannot
    re-aggregate its own output without a second stateful stage, and the
    reconcile job remains the batch authority regardless.  State per
    (band_no, band_val) bucket is at most SIMHASH_BUCKET_CAP signatures
    with TTL eviction: bounded by arrival rate x TTL, capped per key."""
    sim_ok = F.col("simhash").isNotNull() & (F.col("simhash") != 0)
    stack_expr = "stack({}, {}) as (band_no, band_val)".format(
        config.SIMHASH_BANDS,
        ", ".join(f"{i}, band{i}" for i in range(config.SIMHASH_BANDS)))
    src = (scored_stream
           .where(sim_ok)
           .select("clip_id", "simhash", F.expr(stack_expr)))
    return (src.groupBy("band_no", "band_val")
            .applyInPandasWithState(
                _neardup_update, NEARDUP_SCHEMA, _NEARDUP_STATE,
                "append", GroupStateTimeout.ProcessingTimeTimeout))


def stream_dup_flags(scored_stream: DataFrame) -> DataFrame:
    """streaming scored clips -> (clip_id, f_stream_dup): True iff another
    clip with the same audio checksum was seen earlier in the stream
    (within DUP_TTL_MS).  Null checksums never flag (missing/undecodable
    payloads are other rules' concern) and are filtered before the shuffle
    so the null key never hits one state partition."""
    src = (scored_stream
           .where(F.col("pcm_checksum").isNotNull())
           .select("pcm_checksum", "clip_id"))
    return (src.groupBy("pcm_checksum")
            .applyInPandasWithState(
                _dup_update, DUP_SCHEMA, _DUP_STATE,
                "append", GroupStateTimeout.ProcessingTimeTimeout))
