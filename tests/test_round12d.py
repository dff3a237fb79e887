"""Round-12 batch D: eigenvector centrality, McNemar paired test,
post-stratified A/B, Theta forecast, Mann-Kendall trend, Gumbel block
maxima, closed-form two-feature OLS."""

import math

import pytest
from pyspark.sql import functions as F


def _daily_events(spark, counts, t0="2024-01-01"):
    rows = []
    for i, c in enumerate(counts):
        for j in range(c):
            rows.append((i * 1000 + j, i))
    df = spark.createDataFrame(rows, "event_id long, day_idx int")
    return df.select(
        "event_id",
        (
            F.to_timestamp(F.lit(t0 + " 00:00:00"))
            + F.make_interval(days=F.col("day_idx"))
        ).alias("ts"),
    )


# ---------------------------------------------------------------------------
# eigenvector centrality
# ---------------------------------------------------------------------------


def test_eigenvector_star_graph(spark):
    """On a star a->c, b->c one iteration concentrates everything on c
    (a, b have no in-edges — the defining difference from pagerank's
    teleport); further iterations drain to all-zero because a DAG has
    no recurrent class (spectral radius 0) — pinned as documented
    behavior, matching the SQL mirror's tot<=0 branch."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        eigenvector_centrality,
    )

    edges = spark.createDataFrame(
        [("a", "c", 1.0), ("b", "c", 1.0)], "src string, dst string, w double"
    )
    got1 = {
        r["node"]: r["score"]
        for r in eigenvector_centrality(edges, iters=1).collect()
    }
    assert got1["c"] == pytest.approx(1.0)
    assert got1["a"] == 0.0 and got1["b"] == 0.0
    got3 = {
        r["node"]: r["score"]
        for r in eigenvector_centrality(edges, iters=3).collect()
    }
    assert set(got3.values()) == {0.0}


def test_eigenvector_cycle_uniform(spark):
    """A weight-1 directed cycle is regular: the uniform vector is the
    fixed point, every node scores 1/n at any iteration count."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        eigenvector_centrality,
    )

    nodes = ["a", "b", "c", "d"]
    edges = spark.createDataFrame(
        [(nodes[i], nodes[(i + 1) % 4], 1.0) for i in range(4)],
        "src string, dst string, w double",
    )
    for r in eigenvector_centrality(edges, iters=7).collect():
        assert r["score"] == pytest.approx(0.25)


def test_eigenvector_empty_and_guard(spark, monkeypatch):
    """Empty edge frame -> empty result (hits contract); the bounded
    read raises the dq error class past the bound."""
    from asctb_ct_label_mapper_spark.operators import graph
    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded
    from asctb_ct_label_mapper_spark.operators.graph import (
        eigenvector_centrality,
    )

    empty = spark.createDataFrame([], "src string, dst string, w double")
    assert eigenvector_centrality(empty).count() == 0
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    monkeypatch.setattr(graph, "LOCAL_EDGE_ROWS", 1)
    with pytest.raises(GroupBoundExceeded):
        eigenvector_centrality(edges)


# ---------------------------------------------------------------------------
# McNemar paired conversion shift
# ---------------------------------------------------------------------------


def _two_period_events(spark, rows):
    """rows: (user_id, event_type, day_idx) with days 0..9; midpoint
    splits at day 5 (min=day0, max=day9 23:59 -> mid ~ day 5)."""
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, day_idx int"
    )
    return df.select(
        "user_id",
        "event_type",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=F.col("day_idx"))
        ).alias("ts"),
    )


def test_mcnemar_cells_and_stat(spark):
    """Hand-built cells: u1 converts in both halves (n11), u2 only
    first (n10), u3+u4 only second (n01 = 2), u5 never (n00).
    chi2 = (|1-2|-1)^2/3 = 0."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        mcnemar_conversion_shift,
    )

    rows = [
        (1, "purchase", 0), (1, "purchase", 9),
        (2, "purchase", 0), (2, "view", 9),
        (3, "view", 0), (3, "purchase", 9),
        (4, "view", 0), (4, "purchase", 9),
        (5, "view", 0), (5, "view", 9),
    ]
    r = mcnemar_conversion_shift(_two_period_events(spark, rows)).collect()[0]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (1, 1, 2, 1)
    assert r["n_users"] == 5
    assert r["chi2"] == pytest.approx(0.0)
    assert r["p_value"] == pytest.approx(1.0, abs=1e-6)


def test_mcnemar_no_discordant_null(spark):
    """b + c = 0 (all users concordant) degrades chi2/p to NULL via
    try_divide — the oracle's NULLIF contract."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        mcnemar_conversion_shift,
    )

    rows = [(1, "purchase", 0), (1, "purchase", 9), (2, "view", 0),
            (2, "view", 9)]
    r = mcnemar_conversion_shift(_two_period_events(spark, rows)).collect()[0]
    assert r["chi2"] is None and r["p_value"] is None


# ---------------------------------------------------------------------------
# post-stratified A/B
# ---------------------------------------------------------------------------


def test_post_stratified_null_effect_zero_diff(spark):
    """Identical outcome in both arms within every stratum -> both the
    unadjusted and adjusted diffs are exactly 0."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        post_stratified_ab,
    )

    rows = []
    # stratum log2(1)=0: users 10 (arm 0), 11 (arm 1), one purchase of 5
    for u in (10, 11):
        rows.append((u, "purchase", 5.0))
    # stratum log2(4)=2: users 20, 21, four events each, same value
    for u in (20, 21):
        rows += [(u, "purchase", 8.0)] + [(u, "view", 0.0)] * 3
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    r = post_stratified_ab(ev).collect()[0]
    assert r["n_users"] == 4 and r["n_strata"] == 2
    assert r["diff_unadj"] == pytest.approx(0.0)
    assert r["diff_adj"] == pytest.approx(0.0)
    # single-user arms within strata -> sample variance NULL -> se NULL
    assert r["se_adj"] is None


def test_post_stratified_removes_imbalance(spark):
    """Construct confounding: heavy users spend more AND lean arm 1.
    The stratum-weighted estimate must shrink toward the within-stratum
    truth (0) relative to the unadjusted diff."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        post_stratified_ab,
    )

    rows = []
    uid = 0
    # light stratum (1 event, value 1): 4 users arm0, 2 users arm1
    for _ in range(4):
        rows.append((uid * 2, "purchase", 1.0)); uid += 1
    for _ in range(2):
        rows.append((uid * 2 + 1, "purchase", 1.0)); uid += 1
    # heavy stratum (4 events, value 10): 2 users arm0, 4 users arm1
    for _ in range(2):
        u = uid * 2
        rows += [(u, "purchase", 10.0)] + [(u, "view", 0.0)] * 3
        uid += 1
    for _ in range(4):
        u = uid * 2 + 1
        rows += [(u, "purchase", 10.0)] + [(u, "view", 0.0)] * 3
        uid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    r = post_stratified_ab(ev).collect()[0]
    assert r["diff_unadj"] > 0  # confounded: arm1 looks better
    assert r["diff_adj"] == pytest.approx(0.0)  # stratified truth


# ---------------------------------------------------------------------------
# Theta forecast
# ---------------------------------------------------------------------------


def test_theta_linear_series_extends_trend(spark):
    """On an exactly linear series y_t = 3 + 2t the θ=2 line equals the
    trend line, SES of it lags but the trend component extrapolates
    exactly; forecast stays within the trend's neighborhood and is
    monotone increasing in h."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        theta_forecast_daily,
    )

    counts = [3 + 2 * t for t in range(14)]
    out = theta_forecast_daily(_daily_events(spark, counts)).orderBy(
        "h"
    ).collect()
    assert [r["h"] for r in out] == list(range(1, 8))
    # trend component is exact: a=3, b=2, n=14 -> trend(h) = 3+2*(13+h)
    for r in out:
        assert r["trend"] == pytest.approx(3 + 2 * (13 + r["h"]), abs=1e-6)
    fcs = [r["forecast"] for r in out]
    assert all(b > a for a, b in zip(fcs, fcs[1:]))


def test_theta_constant_series_flat(spark):
    """A constant series has zero trend and SES equal to the constant:
    every horizon forecasts the constant exactly."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        theta_forecast_daily,
    )

    out = theta_forecast_daily(_daily_events(spark, [5] * 10)).collect()
    for r in out:
        assert r["forecast"] == pytest.approx(5.0, abs=1e-6)
        assert r["ses"] == pytest.approx(5.0, abs=1e-6)


# ---------------------------------------------------------------------------
# Mann-Kendall
# ---------------------------------------------------------------------------


def test_mann_kendall_monotone_series(spark):
    """Strictly increasing distinct counts: S = n(n-1)/2, no ties,
    trend = increasing."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        mann_kendall_daily,
    )

    n = 12
    counts = [t + 1 for t in range(n)]
    r = mann_kendall_daily(_daily_events(spark, counts)).collect()[0]
    assert r["n_days"] == n
    assert r["s_stat"] == n * (n - 1) // 2
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert r["var_s"] == pytest.approx(var, abs=1e-6)
    assert r["z"] == pytest.approx((r["s_stat"] - 1) / math.sqrt(var),
                                   abs=1e-5)
    assert r["trend"] == "increasing"


def test_mann_kendall_tie_correction_and_no_trend(spark):
    """An alternating series has S ~ 0 and heavy ties; the tie term
    must subtract from the no-tie variance and the verdict is
    'no trend'."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        mann_kendall_daily,
    )

    counts = [2, 3] * 6  # 12 days, two tie groups of 6
    r = mann_kendall_daily(_daily_events(spark, counts)).collect()[0]
    n, t = 12, 6.0
    var = (n * (n - 1) * (2 * n + 5) - 2 * t * (t - 1) * (2 * t + 5)) / 18.0
    assert r["var_s"] == pytest.approx(var, abs=1e-6)
    assert r["trend"] == "no trend"


# ---------------------------------------------------------------------------
# Gumbel block maxima
# ---------------------------------------------------------------------------


def test_gumbel_moments_and_levels(spark):
    """Two exact weekly blocks with maxima 7 and 9: m=8, s=sqrt(2);
    beta = s*sqrt(6)/pi, mu = m - gamma*beta, and the return level
    grows with T."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        gumbel_block_maxima,
    )

    counts = [1, 2, 3, 4, 5, 6, 7] + [3, 4, 5, 6, 7, 8, 9]
    out = gumbel_block_maxima(_daily_events(spark, counts)).orderBy(
        "t_blocks"
    ).collect()
    assert [r["t_blocks"] for r in out] == [4, 12, 52]
    beta = math.sqrt(2.0) * math.sqrt(6.0) / math.pi
    mu = 8.0 - 0.5772156649015329 * beta
    for r in out:
        assert r["n_blocks"] == 2
        assert r["mu"] == pytest.approx(mu, abs=1e-5)
        assert r["beta"] == pytest.approx(beta, abs=1e-5)
        want = mu - beta * math.log(-math.log(1.0 - 1.0 / r["t_blocks"]))
        assert r["return_level"] == pytest.approx(want, abs=1e-5)
    lv = [r["return_level"] for r in out]
    assert lv[0] < lv[1] < lv[2]


def test_gumbel_single_block_degrades_null(spark):
    """One block -> undefined sample stddev -> beta and the levels are
    NULL (try_divide), matching the oracle's NULLIF."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        gumbel_block_maxima,
    )

    out = gumbel_block_maxima(_daily_events(spark, [4, 5, 6])).collect()
    for r in out:
        assert r["beta"] is None and r["return_level"] is None


# ---------------------------------------------------------------------------
# two-feature OLS
# ---------------------------------------------------------------------------


def test_ols_two_feature_exact_plane(spark):
    """Outcomes generated exactly on y = 2 + 3*x1 + 0.5*x2 recover the
    coefficients to rounding and r2 = 1."""
    from asctb_ct_label_mapper_spark.operators.stats import ols_two_feature

    rows = []
    uid = 0
    for x1 in range(1, 5):
        for x2 in range(1, 4):
            y = 2.0 + 3.0 * x1 + 0.5 * x2
            rows.append((uid, "purchase", y))
            rows += [(uid, "view", 0.0)] * x1 + [(uid, "click", 0.0)] * x2
            uid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    r = ols_two_feature(ev).collect()[0]
    assert r["n_users"] == 12
    assert r["b0"] == pytest.approx(2.0, abs=1e-5)
    assert r["b1"] == pytest.approx(3.0, abs=1e-5)
    assert r["b2"] == pytest.approx(0.5, abs=1e-5)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)


def test_ols_two_feature_singular_design_null(spark):
    """Collinear features (x2 = x1 for every user) make X'X singular:
    every coefficient degrades to NULL via the det try_divide."""
    from asctb_ct_label_mapper_spark.operators.stats import ols_two_feature

    rows = []
    for uid, k in enumerate([1, 2, 3]):
        rows.append((uid, "purchase", float(k)))
        rows += [(uid, "view", 0.0)] * k + [(uid, "click", 0.0)] * k
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    r = ols_two_feature(ev).collect()[0]
    assert r["b0"] is None and r["b1"] is None and r["b2"] is None
