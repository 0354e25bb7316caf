"""Threshold refit (engine/refit.py): deterministic proposals that land in
the planted separation windows of the seeded corpus."""

from __future__ import annotations

import numpy as np

from engine import refit
from engine.operators import pipeline, scoring


# refit_thresholds uses the DP only through propose_strata; these helpers
# expose its pieces one at a time, so each is checked on its own


def _kmeans_wss(centers, counts, k: int) -> float:
    """Exact weighted 1-D k-means SSE at one k."""
    return refit._kmeans_dp(centers, counts, k)[0][k - 1]


def _kmeans_boundaries(centers, counts, k: int) -> list[float]:
    """Exact 1-D k-means segmentation -> boundaries between the k
    clusters (fewer when fewer than k bins are occupied)."""
    _wss, back = refit._kmeans_dp(centers, counts, k)
    return refit._boundaries_from_back(centers, counts, back, k)


def _cluster_diagnostics(centers, counts, k_max: int = 6) -> dict:
    """Exact WSS for k = 1..k_max and its curvature elbow."""
    wss = refit._kmeans_dp(centers, counts, k_max)[0]
    return {"k": list(range(1, k_max + 1)),
            "wss": [round(v, 6) for v in wss],
            "elbow_k": refit._elbow_from_wss(wss)}


def test_kmeans2_boundary_separates_two_modes():
    centers = np.linspace(0, 10, 100)
    counts = np.zeros(100, dtype=np.int64)
    counts[10:20] = 50   # mode ~1.0-2.0
    counts[80:90] = 30   # mode ~8.0-9.0
    b = refit.kmeans2_boundary(centers, counts)
    assert 2.0 < b < 8.0


def test_kmeans2_boundary_degenerate():
    c = np.linspace(0, 1, 8)
    assert refit.kmeans2_boundary(c, np.zeros(8, dtype=np.int64)) is not None
    one = np.zeros(8, dtype=np.int64)
    one[3] = 5
    assert 0.0 <= refit.kmeans2_boundary(c, one) <= 1.0


def test_refit_is_deterministic_and_in_window(spark, clips_t1):
    path, _, _ = clips_t1
    scored = scoring.score_clips(pipeline.read_clips(spark, path))
    scored = scored.persist()
    p1 = refit.refit_thresholds(scored)
    p2 = refit.refit_thresholds(scored)
    scored.unpersist()
    assert p1 == p2  # same corpus -> same proposal, always

    prop = p1["proposed"]
    # ppl candidate must sit above the clean/pii mass (median) and far
    # below the empty-text sentinel (p99 can BE the 1e9 sentinel, so it is
    # context, not a bound)
    assert p1["context"]["ppl_p50_p90_p99"][0] < prop["PPL_MAX"] < 400.0
    assert 0.0 < prop["LID_MARGIN_MIN"] < 2.0
    assert 0.0 < prop["SILENCE_RATIO_MAX"] < 1.0
    assert p1["rule_version"] and p1["n_rows"] > 0
    assert p1["current"]["PPL_MAX"] == 90.0


def test_refit_makes_two_spark_actions(spark, clips_t1):
    """All three histograms come from one aggregate and both percentile
    arrays from one select: two actions, each a shuffle-map job and a
    result job under AQE (the scored table is already cached, so no job
    materializes it)."""
    from tests.test_resume import _spark_jobs

    path, _, _ = clips_t1
    scored = scoring.score_clips(pipeline.read_clips(spark, path)).persist()
    try:
        scored.count()
        with _spark_jobs(spark) as jobs:
            refit.refit_thresholds(scored)
        assert len(jobs) == 4
    finally:
        scored.unpersist()


def test_score_histograms_match_numpy_and_keep_nulls_out(spark):
    """One aggregate gives every column's histogram: equal to numpy's over
    the non-null values clamped into [lo, hi]; nulls fill no bin, and
    n_rows counts every row."""
    rng = np.random.default_rng(3)
    n = 500
    a = rng.normal(1.0, 2.0, n)
    b = rng.uniform(0.0, 1.0, n)
    rows = [(float(x), None if i % 7 == 0 else float(y))
            for i, (x, y) in enumerate(zip(a, b))]
    df = spark.createDataFrame(rows, "a double, b double")
    ranges = {"a": (-1.0, 3.0), "b": (0.0, 1.0)}
    n_rows, hists = refit.score_histograms(df, ranges, n_bins=16)
    assert n_rows == n
    for col, vals in (("a", a), ("b", [y for _, y in rows if y is not None])):
        lo, hi = ranges[col]
        centers, counts = hists[col]
        exp, _ = np.histogram(np.clip(vals, lo, hi - 1e-12), bins=16,
                              range=(lo, hi))
        assert counts.tolist() == exp.tolist()
        width = (hi - lo) / 16
        assert np.allclose(centers, lo + (np.arange(16) + 0.5) * width)
    assert hists["b"][1].sum() == n - len(range(0, n, 7))


def test_approx_percentile_within_tolerance(spark):
    """The corpus-scale percentile path: percentile_approx with accuracy K
    guarantees rank error <= n/K.  The refit/quantile queries use exact
    percentile (driver-gated determinism); at 10^12 rows a job swaps in
    approx — this pins that the swap stays within its documented bound on
    a known distribution."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    vals = rng.lognormal(3.0, 1.0, 20_000).tolist()
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    row = df.select(
        F.expr("percentile(v, array(0.5, 0.9, 0.99))").alias("exact"),
        F.expr("percentile_approx(v, array(0.5, 0.9, 0.99), 1000)")
        .alias("approx")).first()
    svals = sorted(vals)
    n = len(svals)
    for e, a in zip(row["exact"], row["approx"]):
        # rank error bound: approx value's rank within n/1000 of exact's
        import bisect
        re_ = bisect.bisect_left(svals, e)
        ra = bisect.bisect_left(svals, a)
        assert abs(re_ - ra) <= n // 1000 + 1, (e, a, re_, ra)


def test_percentiles_path_selection(spark):
    """_percentiles routes by corpus size: exact at/below
    EXACT_PERCENTILE_MAX_ROWS, sketch above — and both paths agree on a
    small frame (where the sketch is exact too)."""
    from engine import refit

    df = spark.createDataFrame([(float(i),) for i in range(1, 1002)],
                               "ppl_score double")
    ps = {"ppl_score": [0.5, 0.99]}
    exact = refit._percentiles(df, ps, n_rows=1001)["ppl_score"]
    approx = refit._percentiles(
        df, ps, n_rows=refit.EXACT_PERCENTILE_MAX_ROWS + 1)["ppl_score"]
    forced = refit._percentiles(df, ps, exact=False)["ppl_score"]
    assert approx == forced
    # on 1001 rows the sketch holds every value: identical ranks
    for e, a in zip(exact, approx):
        assert abs(e - a) <= 1.0, (exact, approx)


def test_optimal_1d_kmeans_wss_exact_small():
    """DP WSS equals brute-force optimal on a tiny histogram."""
    import itertools

    import numpy as np

    from engine import refit

    x = np.array([0.0, 1.0, 2.0, 10.0, 11.0, 20.0])
    w = np.array([2, 1, 1, 3, 1, 2], dtype=np.int64)

    def sse(idx):
        ww = w[list(idx)].astype(float)
        xx = x[list(idx)]
        mu = (ww * xx).sum() / ww.sum()
        return float((ww * (xx - mu) ** 2).sum())

    # brute force: all contiguous 2-splits and 3-splits
    n = len(x)
    best2 = min(sse(range(0, i)) + sse(range(i, n)) for i in range(1, n))
    best3 = min(sse(range(0, i)) + sse(range(i, j)) + sse(range(j, n))
                for i, j in itertools.combinations(range(1, n), 2))
    assert abs(_kmeans_wss(x, w, 2) - best2) < 1e-9
    assert abs(_kmeans_wss(x, w, 3) - best3) < 1e-9
    # monotone non-increasing in k
    wss = [_kmeans_wss(x, w, k) for k in range(1, 5)]
    assert all(a >= b - 1e-12 for a, b in zip(wss, wss[1:]))


def test_cluster_diagnostics_elbow_finds_true_k():
    """Three well-separated modes -> curvature elbow says k=3,
    deterministically (M6 graft: the clusGap/wss model selection without
    the bootstrap seed lottery)."""
    import numpy as np

    from engine import refit

    centers = np.linspace(0, 100, 200)
    counts = np.zeros(200, dtype=np.int64)
    for mode, spread in ((20, 4), (52, 4), (85, 4)):
        idx = np.arange(200)
        counts += (1000 * np.exp(-((centers - mode) ** 2)
                                 / (2 * spread ** 2))).astype(np.int64)
        del idx
    d1 = _cluster_diagnostics(centers, counts, k_max=6)
    d2 = _cluster_diagnostics(centers, counts, k_max=6)
    assert d1 == d2  # deterministic
    assert d1["elbow_k"] == 3
    assert d1["wss"][2] < 0.1 * d1["wss"][0]  # k=3 explains the structure


def test_fuzzy_membership_properties(spark):
    """Memberships sum to 1, peak at the nearest center, and obey the
    exact-hit convention (M5 graft)."""
    from pyspark.sql import functions as F

    from engine import refit

    vals = [(0.0,), (20.0,), (25.0,), (60.0,), (100.0,), (179.0,), (500.0,)]
    df = spark.createDataFrame(vals, "value double")
    u = refit.fuzzy_membership_cols(F.col("value"), [20.0, 100.0, 180.0])
    out = df.select("value", *[ui.alias(f"u{i}") for i, ui in enumerate(u)]) \
        .toPandas().set_index("value")
    s = out.sum(axis=1)
    assert ((s - 1.0).abs() < 1e-9).all()
    assert out.loc[20.0].tolist() == [1.0, 0.0, 0.0]   # exact hit
    assert out.loc[100.0].tolist() == [0.0, 1.0, 0.0]
    assert out.loc[25.0, "u0"] > out.loc[25.0, "u1"] > out.loc[25.0, "u2"]
    assert out.loc[500.0, "u2"] > out.loc[500.0, "u1"] > out.loc[500.0, "u0"]


def _modal_histogram(modes, spread=4, n=200, hi=100):
    import numpy as np

    centers = np.linspace(0, hi, n)
    counts = np.zeros(n, dtype=np.int64)
    for m in modes:
        counts += (1000 * np.exp(-((centers - m) ** 2)
                                 / (2 * spread ** 2))).astype(np.int64)
    return centers, counts


def test_kmeans_boundaries_exact_and_consistent():
    """DP-backtracked boundaries: at k=2 they must equal kmeans2_boundary
    exactly (same midpoint-of-means convention over the same optimal
    split), and at k=3 on a tiny histogram they must separate the three
    brute-force-optimal segments."""
    import numpy as np

    from engine import refit

    x = np.array([0.0, 1.0, 2.0, 10.0, 11.0, 20.0])
    w = np.array([2, 1, 1, 3, 1, 2], dtype=np.int64)
    assert _kmeans_boundaries(x, w, 2) == [refit.kmeans2_boundary(x, w)]
    b3 = _kmeans_boundaries(x, w, 3)
    # optimal 3-segmentation is {0,1,2} | {10,11} | {20}: boundaries are
    # midpoints of adjacent weighted segment means (0.75, 10.25, 20.0)
    assert np.allclose(b3, [(0.75 + 10.25) / 2, (10.25 + 20.0) / 2])


def test_propose_strata_recovers_planted_bands():
    """M1 capability graft (reference Step3:150-366 fits 5-7-component
    mixtures and derives strata): a corpus whose score distribution is
    genuinely multi-modal must get a k-band proposal with k = the planted
    mode count and boundaries inside the valleys — deterministically."""
    from engine import refit

    for modes, valleys in (
            ([20, 52, 85], [(28, 44), (60, 77)]),
            ([10, 35, 60, 90], [(18, 27), (43, 52), (68, 82)]),
            ([8, 25, 45, 65, 88], [(13, 20), (30, 40), (50, 60), (72, 81)])):
        c, n = _modal_histogram(modes)
        p1 = refit.propose_strata(c, n)
        p2 = refit.propose_strata(c, n)
        assert p1 == p2  # deterministic
        assert p1["k"] == len(modes), (modes, p1)
        assert len(p1["boundaries"]) == len(modes) - 1
        for b, (lo, hi) in zip(p1["boundaries"], valleys):
            assert lo <= b <= hi, (modes, b, (lo, hi))
        # the proposal carries its own model-selection evidence
        assert p1["diagnostics"]["elbow_k"] == len(modes)


def test_propose_strata_can_elect_k_max():
    """Review regression: the curvature elbow is undefined at the scan's
    endpoints, so a k_max-long scan could never elect k_max and a 6-modal
    corpus at k_max=6 collapsed to a 2-band proposal.  The scan now runs
    one step past k_max; a corpus with exactly k_max modes must get a
    k_max-band proposal."""
    import numpy as np

    from engine import refit

    centers = np.linspace(0, 120, 240)
    counts = np.zeros(240, dtype=np.int64)
    for m in (10, 30, 50, 70, 90, 110):
        counts += (1000 * np.exp(-((centers - m) ** 2) / 18.0)).astype(np.int64)
    p = refit.propose_strata(centers, counts, k_max=6)
    assert p["k"] == 6
    assert len(p["boundaries"]) == 5
    for b, (lo, hi) in zip(p["boundaries"],
                           [(15, 25), (35, 45), (55, 65), (75, 85), (95, 105)]):
        assert lo <= b <= hi, (b, lo, hi)


def test_propose_strata_diagnostics_shape_matches_cluster_diagnostics():
    """Review regression: propose_strata scans one step past k_max for the
    elbow, but the diagnostics it embeds stop at k_max, the shape
    cluster_diagnostics reports for the same histogram and k_max."""
    for modes, k_max in (([20, 52, 85], 8), ([10, 25, 40, 55, 70, 85], 6),
                         ([40], 3)):
        c, n = _modal_histogram(modes)
        got = refit.propose_strata(c, n, k_max=k_max)["diagnostics"]
        exp = _cluster_diagnostics(c, n, k_max=k_max)
        assert got["k"] == exp["k"] == list(range(1, k_max + 1))
        assert len(got["wss"]) == len(exp["wss"]) == k_max
        assert got["wss"] == exp["wss"]


def test_kmeans_boundaries_degenerate_matches_kmeans2():
    """Review regression: on a zero-weight histogram (score column
    entirely null) kmeans_boundaries must keep its documented k=2
    equality with kmeans2_boundary — both fall back to the middle bin
    center.  Likewise with all weight in ONE bin (a constant score
    column), where the DP used to elect an empty first cluster (0.714 at
    k=2, the non-increasing [0.0, 0.0, 0.714] at k=4); with two occupied
    bins k clamps to 2, and propose_strata never proposes more strata
    than occupied bins."""
    import numpy as np

    from engine import refit

    x = np.linspace(0, 10, 8)
    w = np.zeros(8, dtype=np.int64)
    assert _kmeans_boundaries(x, w, 2) == [refit.kmeans2_boundary(x, w)]
    assert _kmeans_boundaries(x, w, 4) == [float(x[4])] * 3

    one = w.copy()
    one[0] = 5
    assert _kmeans_boundaries(x, one, 2) == [refit.kmeans2_boundary(x, one)]
    assert _kmeans_boundaries(x, one, 4) == [float(x[4])] * 3
    assert refit.propose_strata(x, one)["boundaries"] == []

    two = one.copy()
    two[5] = 3
    for k in (2, 4, 7):
        assert _kmeans_boundaries(x, two, k) == [refit.kmeans2_boundary(x, two)]
    p = refit.propose_strata(x, two)
    assert p["k"] == 2 and len(p["boundaries"]) == 1


def test_boundaries_strictly_increasing_on_sparse_histograms():
    """Property: on any histogram with >= 2 occupied bins, the k-boundary
    list has min(k, occupied) - 1 strictly increasing entries, equals
    kmeans2_boundary at k=2, and propose_strata's k matches its list."""
    import numpy as np

    from engine import refit

    rng = np.random.default_rng(5)
    for _ in range(100):
        n = int(rng.integers(2, 30))
        x = np.sort(rng.uniform(0, 100, n))
        w = rng.integers(0, 1000, n) * (rng.random(n) < rng.uniform(0.1, 1))
        occupied = int(np.count_nonzero(w))
        if occupied < 2:
            continue
        for k in range(2, 8):
            b = _kmeans_boundaries(x, w, k)
            assert len(b) == min(k, occupied) - 1, (x, w, k, b)
            assert all(lo < hi for lo, hi in zip(b, b[1:])), (x, w, k, b)
        assert _kmeans_boundaries(x, w, 2) == [refit.kmeans2_boundary(x, w)]
        p = refit.propose_strata(x, w)
        assert len(p["boundaries"]) == p["k"] - 1 <= occupied - 1
