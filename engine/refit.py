"""Data-driven threshold refit — the distributed analog of the reference's
per-corpus model refitting (mixture fits Step2-Data-Incompleteness.R:
100-148 / Step3-Temporal-Inconsistency.R:150-355; hclust Step2:218-247;
kmeans Step3:451-455).

The engine freezes its cutoffs in config.py (see config docstring); this
module derives CANDIDATE cutoffs from a new corpus so an operator can
review a provenance-stamped config diff instead of trusting constants
fitted on a different distribution.

Method, chosen for scale AND determinism:

  1. One distributed aggregation builds a fixed-width histogram per score
     column, all columns at once (works identically at 10^12 rows; bin
     counts are exact, order-independent sums).
  2. Exact 1-D 2-means on the histogram bins (driver-side, O(n_bins) with
     prefix sums): the boundary between the two clusters is the candidate
     threshold.  For one-dimensional cutoffs this dominates pyspark.ml
     KMeans: no sampled init, no partitioning-dependent seeds — the same
     corpus always yields the same proposal (unit-tested), while the
     reference's gamlssMX/kmeans fits are seed-lottery affairs.
  3. Exact distribution percentiles ride along as guardrail context in
     the emitted proposal, from one more pass: two Spark actions in all.

The proposal is a JSON-able dict stamped with rule_version, corpus size
and histogram parameters — `jobs/refit_thresholds.py` ships it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config

N_BINS = 512


def score_histograms(df: DataFrame, ranges: dict[str, tuple[float, float]],
                     n_bins: int = N_BINS) -> tuple[int, dict]:
    """-> (n_rows, {col: (bin_centers, counts)}) for every `col: (lo, hi)`
    in `ranges`, from ONE exact distributed agg over exploded (score, bin)
    cells; values outside [lo, hi] clamp into the edge bins (so e.g. the
    ppl sentinel for empty text lands in the top bin instead of stretching
    the grid).  Nulls go to a null bin, which only n_rows counts."""
    def cell(col: str, lo: float, hi: float) -> Column:
        width = (hi - lo) / n_bins
        b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), F.floor(
            (F.col(col) - F.lit(lo)) / F.lit(width)).cast("int")))
        # greatest() skips nulls: without the guard a null lands in bin 0
        return F.struct(F.lit(col).alias("score"),
                        F.when(F.col(col).isNotNull(), b).alias("bin"))

    cells = F.array(*(cell(c, lo, hi) for c, (lo, hi) in ranges.items()))
    rows = (df.select(F.explode(cells).alias("c"))
            .groupBy("c.score", "c.bin").count()
            .collect())
    first = next(iter(ranges))
    n_rows = sum(r["count"] for r in rows if r["score"] == first)
    counts = {c: np.zeros(n_bins, dtype=np.int64) for c in ranges}
    for r in rows:
        if r["bin"] is not None:
            counts[r["score"]][r["bin"]] = r["count"]
    return n_rows, {
        c: (lo + (np.arange(n_bins) + 0.5) * ((hi - lo) / n_bins), counts[c])
        for c, (lo, hi) in ranges.items()}


def kmeans2_boundary(centers: np.ndarray, counts: np.ndarray) -> float:
    """Exact weighted 1-D 2-means over histogram bins: evaluate every
    split point via prefix sums, take the SSE-minimizing one; boundary =
    midpoint of the two cluster means (deterministic, no init lottery)."""
    w = counts.astype(np.float64)
    x = centers.astype(np.float64)
    cw = np.cumsum(w)
    cwx = np.cumsum(w * x)
    cwx2 = np.cumsum(w * x * x)
    total_w, total_wx, total_wx2 = cw[-1], cwx[-1], cwx2[-1]
    if total_w == 0:
        return float(x[len(x) // 2])
    best_sse, best_i = np.inf, None
    for i in range(len(x) - 1):
        wl, wr = cw[i], total_w - cw[i]
        if wl == 0 or wr == 0:
            continue
        # SSE = sum(w x^2) - (sum(w x))^2 / sum(w), per side
        sse = (cwx2[i] - cwx[i] ** 2 / wl) \
            + ((total_wx2 - cwx2[i]) - (total_wx - cwx[i]) ** 2 / wr)
        if sse < best_sse - 1e-12:
            best_sse, best_i = sse, i
    if best_i is None:
        return float(x[len(x) // 2])
    mean_l = cwx[best_i] / cw[best_i]
    mean_r = (total_wx - cwx[best_i]) / (total_w - cw[best_i])
    return float((mean_l + mean_r) / 2.0)


# Exact `percentile` buffers every value per partition — fine for a test
# corpus, an OOM at 10^12 rows.  Above this row count the guardrail
# percentiles switch to percentile_approx (bounded-memory KLL-style sketch,
# mergeable map-side); its rank-error bound at this accuracy is pinned by
# tests/test_refit.py::test_approx_percentile_within_tolerance.
EXACT_PERCENTILE_MAX_ROWS = 10_000_000
APPROX_PERCENTILE_ACCURACY = 10_000


def _percentiles(df: DataFrame, ps: dict[str, list[float]],
                 n_rows: int | None = None,
                 exact: bool | None = None) -> dict[str, list[float]]:
    """Guardrail percentiles of every `col: ps` in one select (nulls are
    skipped): exact for small corpora, sketch above
    EXACT_PERCENTILE_MAX_ROWS (or forced via `exact`)."""
    if exact is None:
        exact = n_rows is not None and n_rows <= EXACT_PERCENTILE_MAX_ROWS

    def expr(col: str, qs: list[float]) -> Column:
        arr = ", ".join(map(str, qs))
        return F.expr(f"percentile({col}, array({arr}))" if exact else
                      f"percentile_approx({col}, array({arr}), "
                      f"{APPROX_PERCENTILE_ACCURACY})").alias(col)

    row = df.select(*(expr(c, qs) for c, qs in ps.items())).first()
    return {c: [float(v) for v in row[c]] for c in ps}


def _kmeans_dp(centers: np.ndarray, counts: np.ndarray,
               k_max: int) -> tuple[list[float], np.ndarray]:
    """EXACT weighted k-means SSE for 1-D histogram data, by dynamic
    programming over contiguous bin segments (in one dimension the optimal
    clusters are intervals, so DP over split points is globally optimal —
    no init lottery, unlike the reference's kmeans/fanny fits).
    O(k_max * n_bins^2) driver-side work on the (scale-independent)
    histogram, vectorized over the split axis; the corpus itself was only
    touched by the one aggregation that built the histogram.

    -> (wss[k] for k = 1..k_max as a list, back[k_layer, j] split tables:
    back[t, j] = the i at which the t+2-cluster solution of bins [0, j)
    splits off its last cluster [i, j))."""
    w = counts.astype(np.float64)
    x = centers.astype(np.float64)
    n = len(x)
    cw = np.concatenate([[0.0], np.cumsum(w)])
    cwx = np.concatenate([[0.0], np.cumsum(w * x)])
    cwx2 = np.concatenate([[0.0], np.cumsum(w * x * x)])

    def seg_vec(i: np.ndarray, j: int) -> np.ndarray:  # SSE of bins [i, j)
        ww = cw[j] - cw[i]
        sx = cwx[j] - cwx[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            sse = (cwx2[j] - cwx2[i]) - sx * sx / ww
        return np.where(ww > 0, sse, 0.0)

    idx = np.arange(n + 1)
    # layer 1: prev[j] = SSE of bins [0, j)
    with np.errstate(divide="ignore", invalid="ignore"):
        prev = cwx2 - cwx * cwx / cw
    prev = np.where(cw > 0, prev, 0.0)
    wss = [float(prev[n])]
    back = np.zeros((max(k_max - 1, 0), n + 1), dtype=np.int64)
    for t in range(k_max - 1):
        cur = np.full(n + 1, np.inf)
        cur[0] = 0.0
        for j in range(1, n + 1):
            cand = prev[: j + 1] + seg_vec(idx[: j + 1], j)
            i_best = int(np.argmin(cand))
            cur[j] = cand[i_best]
            back[t, j] = i_best
        prev = cur
        wss.append(float(prev[n]))
    return wss, back


def _boundaries_from_back(centers: np.ndarray, counts: np.ndarray,
                          back: np.ndarray, k: int) -> list[float]:
    """Backtrack a k-segmentation from a DP `back` table built with
    k_max >= k (back[t] is the t+2-cluster layer, valid for any smaller
    k) and convert it to boundaries = midpoints of adjacent cluster means.

    k is clamped to the number of occupied bins: more clusters than that
    would be empty, and an empty cluster has no mean to put a boundary
    next to.  So the result holds min(k, occupied) - 1 strictly increasing
    boundaries.  With at most one occupied bin no two non-empty clusters
    exist at all: like kmeans2_boundary when it finds no valid split, the
    k-1 boundaries are all the middle bin center, so the k=2 equality
    holds on ALL inputs."""
    w = counts.astype(np.float64)
    x = centers.astype(np.float64)
    n = len(x)
    occupied = int(np.count_nonzero(w))
    if occupied <= 1:
        return [float(x[n // 2])] * (k - 1)
    k = min(k, occupied)
    splits = []
    j = n
    for t in range(k - 2, -1, -1):
        j = int(back[t, j])
        splits.append(j)
    splits.reverse()  # ascending bin indices, one per boundary
    cw = np.concatenate([[0.0], np.cumsum(w)])
    cwx = np.concatenate([[0.0], np.cumsum(w * x)])
    edges = [0] + splits + [n]
    means = [(cwx[b] - cwx[a]) / (cw[b] - cw[a])
             for a, b in zip(edges, edges[1:])]
    return [float((means[i] + means[i + 1]) / 2.0) for i in range(len(means) - 1)]


def _elbow_from_wss(wss: list[float]) -> int:
    """Curvature elbow over a WSS scan: argmax of the second difference
    of log(WSS+eps), defined at k = 2..len(wss)-1 (the discrete curvature
    criterion; clusGap's B=50 bootstrap is a seed lottery the engine
    deliberately replaces with a closed-form, reproducible statistic)."""
    # a WSS of an exact fit can round to slightly below zero; log of it
    # would be NaN, and argmax returns the first NaN
    logw = np.log(np.maximum(np.asarray(wss), 0.0) + 1e-12)
    if len(wss) >= 3:
        curv = logw[:-2] - 2 * logw[1:-1] + logw[2:]
        return int(np.argmax(curv)) + 2
    return len(wss)


def propose_strata(centers: np.ndarray, counts: np.ndarray,
                   k_max: int = 8) -> dict:
    """Data-driven MULTI-COMPONENT strata proposal (the reference's M1
    capability, Step3:150-366: fit a 5-7-component mixture to the gap
    distribution, then derive strata bounds between components): the
    curvature elbow over the exact WSS scan picks k, the DP backtrack
    yields the k-1 boundaries between the k globally-optimal 1-D clusters.
    Deterministic end-to-end — the same histogram always proposes the same
    bands, unlike the reference's gamlssMX seed lottery.  A genuinely
    multi-modal corpus therefore gets a k-band proposal with k up to and
    INCLUDING k_max: the scan runs one step past k_max because the
    curvature statistic is undefined at the scan's endpoints, so a
    k_max-long scan could never elect k_max (a 6-modal corpus at k_max=6
    previously collapsed to a 2-band proposal).  The default k_max=8
    covers the reference's observed 5-7-component range with headroom.
    ONE DP pass serves both the diagnostics and the backtrack; the
    diagnostics report the exact WSS at k = 1..k_max and the elbow — the
    deterministic analog of the reference's wss-scan + clusGap model
    selection (get_nbclust/clusGap, Step2-Data-Incompleteness.R:223-224,
    Step3:377-379).  Ties in the DP argmin resolve to the leftmost split."""
    wss, back = _kmeans_dp(centers, counts, k_max + 1)
    elbow_k = _elbow_from_wss(wss)
    diag = {"k": list(range(1, k_max + 1)),
            "wss": [round(v, 6) for v in wss[:k_max]],
            "elbow_k": elbow_k}
    # no more strata than occupied bins, so the boundaries never repeat
    k = min(elbow_k, k_max, max(int(np.count_nonzero(counts)), 1))
    bounds = _boundaries_from_back(centers, counts, back, k)
    return {
        "k": k,
        "boundaries": [round(b, 6) for b in bounds],
        "diagnostics": diag,
    }


def fuzzy_membership_cols(value, centers: list[float]):
    """Fuzzy c-means membership degrees (fuzzifier m=2) of `value` against
    FIXED cluster centers — the graft of the reference's fanny() fits
    (Step2:333, Step3:502-505): u_i = (1/d_i^2) / sum_k (1/d_k^2), with
    the exact-hit convention u = 1 on the touched center.  Pure Column
    expressions (no UDF, no iteration): at 10^12 rows membership scoring
    is a projection, while center FITTING stays in the driver-side refit
    (histogram + DP).  Returns one Column per center."""
    d2 = [(value - F.lit(c)) * (value - F.lit(c)) for c in centers]
    inv = [F.lit(1.0) / x for x in d2]
    denom = None
    for x in inv:
        denom = x if denom is None else denom + x
    cols = []
    for i, c in enumerate(centers):
        exact = value == F.lit(c)
        any_exact = None
        for j, cj in enumerate(centers):
            hit = value == F.lit(cj)
            any_exact = hit if any_exact is None else (any_exact | hit)
        u = F.when(any_exact, F.when(exact, F.lit(1.0)).otherwise(F.lit(0.0))) \
            .otherwise(inv[i] / denom)
        cols.append(u)
    return cols


def refit_thresholds(scored: DataFrame) -> dict:
    """scored (scoring.score_clips output or the checkpointed scored
    table) -> provenance-stamped threshold proposal dict."""
    # perplexity: clamp the histogram at 4x the frozen cutoff — the empty-
    # transcript sentinel (1e9) must not stretch the grid; it clamps into
    # the top bin and anchors the high cluster
    n_rows, hists = score_histograms(scored, {
        "ppl_score": (0.0, float(config.PPL_MAX * 4)),
        "lid_margin": (0.0, 4.0),
        "silence_ratio": (0.0, 1.0)})
    pcts = _percentiles(scored, {"ppl_score": [0.5, 0.9, 0.99],
                                 "lid_margin": [0.01, 0.1, 0.5]}, n_rows)
    ppl_cut = kmeans2_boundary(*hists["ppl_score"])
    ppl_strata = propose_strata(*hists["ppl_score"])
    ppl_diag = ppl_strata["diagnostics"]
    lid_cut = kmeans2_boundary(*hists["lid_margin"])
    lid_strata = propose_strata(*hists["lid_margin"])
    lid_diag = lid_strata["diagnostics"]
    sil_cut = kmeans2_boundary(*hists["silence_ratio"])

    return {
        "method": "fixed-width histogram (1 distributed agg/score) + "
                  "exact weighted 1-D 2-means over bins",
        "n_bins": N_BINS,
        "n_rows": int(n_rows),
        "rule_version": config.rule_version(),
        "current": {
            "PPL_MAX": config.PPL_MAX,
            "LID_MARGIN_MIN": config.LID_MARGIN_MIN,
            "SILENCE_RATIO_MAX": config.SILENCE_RATIO_MAX,
        },
        "proposed": {
            "PPL_MAX": round(ppl_cut, 4),
            "LID_MARGIN_MIN": round(lid_cut, 4),
            "SILENCE_RATIO_MAX": round(sil_cut, 4),
        },
        "context": {
            "ppl_p50_p90_p99": [round(v, 4) for v in pcts["ppl_score"]],
            "lid_margin_p01_p10_p50": [round(v, 4)
                                       for v in pcts["lid_margin"]],
        },
        # M6 graft: cluster-count diagnostics per fitted score (wss scan +
        # curvature elbow over the same histograms — no extra corpus pass)
        "diagnostics": {"ppl_score": ppl_diag, "lid_margin": lid_diag},
        # M1 graft: elbow-chosen MULTI-component band proposal per score
        # (the reference's 5-7-component strata derivation, Step3:349-366),
        # from the same histograms — no extra corpus pass
        "strata": {
            "ppl_score": {k: v for k, v in ppl_strata.items()
                          if k != "diagnostics"},
            "lid_margin": {k: v for k, v in lid_strata.items()
                           if k != "diagnostics"},
        },
    }
