"""Round-12 second review pass: regression tests for the verified
findings (mSPRT spine, conformal day-lag + empty calibration, QTE
single-arm padding, quality-sweep unreachable thresholds, bounded
single-job collects, stale pid-dir sweep)."""

import os

import pytest
from pyspark.sql import functions as F


def _ev(spark, rows):
    """rows: (user_id, event_type, day_idx)."""
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


def test_msprt_counts_conversion_on_non_entry_day(spark):
    """A conversion landing on a day that is nobody's entry day must
    appear in the cumulative c-counts (the r12 finding: it was dropped
    forever)."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        msprt_conversion_daily,
    )

    rows = [
        (1, "view", 0),        # user 1 (arm 1) enters day 0
        (2, "view", 0),        # user 2 (arm 0) enters day 0
        (1, "purchase", 4),    # converts on day 4 — not an entry day
    ]
    out = {r["day"]: r for r in
           msprt_conversion_daily(_ev(spark, rows)).collect()}
    assert "2024-01-05" in out  # day_idx 4
    last = out["2024-01-05"]
    assert last["c1"] == 1  # user 1 is odd -> arm 1
    assert last["n0"] == 1 and last["n1"] == 1


def test_conformal_lag_is_days_not_rows(spark):
    """With a zero-event calendar gap, the seasonal-naive lag must
    still be 7 DAYS back: the spine zero-fills the gap, so yhat for a
    late day equals the count 7 calendar days earlier (0 for spine
    fills), never the 7-rows-back value."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        conformal_daily_forecast,
    )

    # 21 days of data, day 10 missing entirely (zero events)
    rows = []
    eid = 0
    for d in range(21):
        if d == 10:
            continue
        for _ in range(3 + (d % 7)):
            rows.append((eid, "view", d)); eid += 1
    out = conformal_daily_forecast(_ev(spark, rows)).collect()
    # forecastable days = 21 - 7 = 14; calib = floor(14*0.7) = 9 -> 5
    assert len(out) == 5
    for r in out:
        # day 17 predicts from day 10 = the ZERO-filled gap
        if r["day"] == "2024-01-18":
            assert r["yhat"] == 0


def test_conformal_empty_calibration_emits_null_bounds(spark):
    """n_cal = 0 (a single forecastable day): the test rows must
    survive with NULL lo/hi/covered — the oracle's scalar-subquery
    semantics — not vanish in an empty cross join."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        conformal_daily_forecast,
    )

    rows = []
    eid = 0
    for d in range(8):  # 8 days -> exactly 1 forecastable day
        for _ in range(2 + d):
            rows.append((eid, "view", d)); eid += 1
    out = conformal_daily_forecast(_ev(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["lo"] is None and r["hi"] is None and r["covered"] is None


def test_qte_single_arm_pads_all_quantiles(spark):
    """All users on one arm parity: 9 rows with the empty arm's n = 0
    and NULL quantiles — not an empty inner join."""
    from asctb_ct_label_mapper_spark.operators.experiment import qte_metric

    ev = spark.createDataFrame(
        [(2 * u, "purchase", float(u)) for u in range(10)],  # even -> arm 0
        "user_id long, event_type string, value double",
    )
    out = qte_metric(ev).collect()
    assert len(out) == 9
    for r in out:
        assert r["n0"] == 10 and r["n1"] == 0
        assert r["q1"] is None and r["qte"] is None
        assert r["q0"] is not None


def test_quality_sweep_emits_unreachable_thresholds(spark):
    """Thresholds no document reaches still emit rows with n_docs = 0
    (the planner's 'everything dies here' readout)."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        quality_threshold_sweep,
    )

    # degenerate docs: one symbol-ish token — they fail most rules
    docs = spark.createDataFrame(
        [(i, "#### #### ####") for i in range(5)],
        "doc_id long, text string",
    )
    out = {r["min_rules_passed"]: r for r in
           quality_threshold_sweep(docs).collect()}
    assert set(out) == set(range(6))
    assert out[5]["n_docs"] == 0  # nobody passes all five rules
    assert out[0]["n_docs"] == 5


def test_sweep_stale_pid_dirs(tmp_path):
    """Dead-pid dirs are removed; the live process's own dir and
    unsuffixed dirs survive."""
    from asctb_ct_label_mapper_spark.sources.bucketing import (
        sweep_stale_pid_dirs,
    )

    root = str(tmp_path)
    me = os.getpid()
    dead = 999_999_983  # far above pid_max defaults -> never alive
    for name in (
        f"bkt32_sf_abc_p{me}_orders",
        f"bkt32_sf_abc_p{dead}_orders",
        "minhash_signatures_shared",
    ):
        os.makedirs(os.path.join(root, name))
    removed = sweep_stale_pid_dirs(root, r"_p(\d+)_")
    left = set(os.listdir(root))
    assert removed == 1
    assert f"bkt32_sf_abc_p{me}_orders" in left
    assert "minhash_signatures_shared" in left
    assert f"bkt32_sf_abc_p{dead}_orders" not in left


# ---------------------------------------------------------------------------
# second-pass findings (r12h/r12i batch review)
# ---------------------------------------------------------------------------


def test_markov_entropy_empty_chain_one_row(spark):
    """No transitions (every user has one event): one (0, NULL, NULL)
    row — the oracle's ungrouped-aggregate shape, not zero rows."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_entropy_rate,
    )

    df = spark.createDataFrame(
        [(1, 10, "view", 0), (2, 11, "view", 0)],
        "event_id long, user_id long, event_type string, day_idx int",
    ).select(
        "event_id", "user_id", "event_type",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=F.col("day_idx"))
        ).alias("ts"),
    )
    out = markov_entropy_rate(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_states"] == 0
    assert r["entropy_nats"] is None and r["perplexity"] is None


def test_dispersion_single_day_null_not_crash(spark):
    """A one-day dataset: Spark emits the row with NULL z/p (and the
    SQL mirror must not raise on sqrt(-1) — its n>=2 guard)."""
    import duckdb

    from asctb_ct_label_mapper_spark.operators.stats import (
        dispersion_test_by_type,
        sql_dispersion_test_by_type,
    )

    df = spark.createDataFrame(
        [(1, "a", 0), (2, "a", 0), (3, "a", 0)],
        "event_id long, event_type string, day_idx int",
    ).select(
        "event_id", "event_type",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    r = dispersion_test_by_type(df).collect()[0]
    assert r["n_days"] == 1
    assert r["z"] is None and r["p_value"] is None
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        "(1, 'a', TIMESTAMP '2024-01-01'), "
        "(2, 'a', TIMESTAMP '2024-01-01')) t(event_id, event_type, ts)"
    )
    rows = con.execute(sql_dispersion_test_by_type("events")).fetchall()
    assert len(rows) == 1 and rows[0][6] is None  # z NULL, no crash


def test_audience_overlap_empty_week_pairs_survive(spark):
    """Users active weeks 0 and 2, nobody in week 1: BOTH consecutive
    pairs must appear, with jaccard 0 against the empty week."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        audience_overlap_weekly,
    )

    uw = {1: [0, 2], 2: [0]}
    out = {r["week_a"]: r for r in
           audience_overlap_weekly(_ev_weeks(spark, uw)).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_b"] == 0 and out[0]["n_common"] == 0
    assert out[0]["jaccard"] == pytest.approx(0.0)
    assert out[1]["n_a"] == 0 and out[1]["n_b"] == 1
    # empty-vs-nonempty: union 1, common 0 -> jaccard 0; retained NULL
    assert out[1]["jaccard"] == pytest.approx(0.0)
    assert out[1]["retained_share"] is None


def test_sbg_zero_active_in_window_week_is_zero(spark):
    """Cohort active weeks 0 and 2 only: week 1's s_observed is a
    genuine 0.0 (total churn), weeks beyond the window stay NULL."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sbg_retention_projection,
    )

    uw = {1: [0, 2], 2: [0, 2], 3: [0]}
    out = {r["week"]: r for r in
           sbg_retention_projection(_ev_weeks(spark, uw)).collect()}
    assert out[1]["s_observed"] == pytest.approx(0.0)
    assert out[2]["s_observed"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[3]["s_observed"] is None  # beyond the data window


def test_sweep_last_pid_match_wins(tmp_path):
    """A tag containing a fake `_p<digits>_` token must not shadow the
    real (live) pid suffix."""
    from asctb_ct_label_mapper_spark.sources.bucketing import (
        sweep_stale_pid_dirs,
    )

    me = os.getpid()
    name = f"bkt32_data_p100_v2_abc123_p{me}_orders"
    os.makedirs(os.path.join(str(tmp_path), name))
    removed = sweep_stale_pid_dirs(str(tmp_path), r"_p(\d+)_")
    assert removed == 0
    assert name in os.listdir(str(tmp_path))


def _ev_weeks(spark, user_weeks):
    rows = []
    eid = 0
    for u, wks in user_weeks.items():
        for w in wks:
            rows.append((eid, u, "view", 7 * w)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, day_idx int"
    )
    return df.select(
        "event_id", "user_id", "event_type",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=F.col("day_idx"))
        ).alias("ts"),
    )
