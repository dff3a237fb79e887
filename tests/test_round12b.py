"""Round-12 batch B: Bayesian A/B, mSPRT always-valid p, Nelson-Aalen
hazard, Fellegi-Sunter linkage, harmonic closeness, source vocabulary
overlap, LSH S-curve planner — edge-case and hand-computed checks."""

import math

import pytest
from pyspark.sql import functions as F


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).select("user_id", F.col("ts").cast("timestamp"), "event_type")


def test_bayes_ab_symmetric_arms_prob_half(spark):
    """Identical arms -> identical posteriors -> P(B>A) = 0.5 exactly
    (z = 0 hits the polynomial's x = 0 branch on both engines)."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        bayes_ab_conversion,
    )

    rows = []
    for u in range(40):  # arms split on user_id % 2; same mix per arm
        rows.append((u, "2024-01-01 00:00:00",
                     "purchase" if u % 4 < 2 else "view"))
    r = bayes_ab_conversion(_ev(spark, rows)).first()
    assert r["n0"] == 20 and r["n1"] == 20
    assert r["post_mean0"] == r["post_mean1"]
    assert abs(r["prob_b_beats_a"] - 0.5) < 1e-6


def test_bayes_ab_direction_and_prior(spark):
    """Arm 1 converting strictly more -> P(B>A) > 0.5 and lift > 0;
    empty-arm degenerate input keeps the prior mean 0.5."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        bayes_ab_conversion,
    )

    rows = [(u, "2024-01-01 00:00:00",
             "purchase" if u % 2 == 1 else "view") for u in range(40)]
    r = bayes_ab_conversion(_ev(spark, rows)).first()
    assert r["lift"] > 0 and r["prob_b_beats_a"] > 0.99
    # only odd users at all -> arm 0 empty -> prior Beta(1,1) mean 0.5
    odd = [(u, "2024-01-01 00:00:00", "view") for u in range(1, 10, 2)]
    r2 = bayes_ab_conversion(_ev(spark, odd)).first()
    assert r2["n0"] == 0 and r2["post_mean0"] == 0.5


def test_msprt_monotone_p_and_bounds(spark, sf_dir):
    """The always-valid p is in (0, 1] and NON-INCREASING over days (the
    running-max monotonization); cumulative counts are non-decreasing."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        msprt_conversion_daily,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = msprt_conversion_daily(ev).orderBy("day").collect()
    assert rows
    last_p, last_n = 1.0 + 1e-9, 0
    for r in rows:
        assert 0.0 < r["p_always_valid"] <= 1.0
        assert r["p_always_valid"] <= last_p + 1e-9
        assert r["n0"] + r["n1"] >= last_n
        last_p, last_n = r["p_always_valid"], r["n0"] + r["n1"]


def test_nelson_aalen_hand_case_and_km_bound(spark):
    """Hand case: 4 users signup day 0; conversions at t=1 (2 users)
    and t=2 (1 user); 1 censored at corpus max (t=2 has the max date).
    H(1) = 2/4, H(2) = 2/4 + 1/2 = 1.0; exp(-H) >= the KM product at
    every duration (Fleming-Harrington dominance)."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        kaplan_meier_survival,
        nelson_aalen_hazard,
    )

    rows = []
    for u in range(4):
        rows.append((u, "2024-01-01 00:00:00", "signup"))
    rows += [
        (0, "2024-01-02 00:00:00", "purchase"),
        (1, "2024-01-02 00:00:00", "purchase"),
        (2, "2024-01-03 00:00:00", "purchase"),
        # user 3 never converts; corpus max date = 2024-01-03 -> t = 2
    ]
    df = _ev(spark, rows)
    na = {r["duration_days"]: r for r in nelson_aalen_hazard(df).collect()}
    assert na[1]["n_risk"] == 4 and na[1]["cum_hazard"] == 0.5
    assert na[2]["n_risk"] == 2 and na[2]["cum_hazard"] == 1.0
    km = {r["duration_days"]: r["survival"]
          for r in kaplan_meier_survival(df).collect()}
    for t, r in na.items():
        assert r["surv_fh"] >= km[t] - 1e-9


def test_fs_linkage_weights_ordering_and_guard(spark):
    """Agreeing on every field scores strictly higher than agreeing on
    fewer; NULL fields disagree; misaligned m_probs raise."""
    from asctb_ct_label_mapper_spark.operators.linkage import (
        fs_linkage_weights,
    )

    rows = [  # block = first TWO name tokens ("alpha widget")
        (1, "alpha widget red", "B1", "T1", 5),
        (2, "alpha widget blue", "B1", "T1", 5),   # full agreement w/ 1
        (3, "alpha widget green", "B1", "T1", 9),  # size disagrees w/ 1
        (4, "alpha widget grey", "B2", "T2", None),  # all disagree vs 1
        (5, "beta widget red", "B1", "T1", 5),     # different block
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int",
    )
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in fs_linkage_weights(df, threshold=-100.0).collect()
    }
    assert (1, 5) not in got  # blocked apart (first token differs)
    assert got[(1, 2)] > got[(1, 3)] > got[(1, 4)]
    with pytest.raises(ValueError, match="align"):
        fs_linkage_weights(df, m_probs=(0.9,))


def test_harmonic_closeness_path_graph(spark):
    """P3 path a-b-c: harmonic(b) = 1 + 1 = 2, harmonic(a) = harmonic(c)
    = 1 + 1/2 = 1.5; iters=1 on P3 leaves a->c unexplored -> raise."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        harmonic_closeness,
    )

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: (r["n_reached"], r["harmonic"])
           for r in harmonic_closeness(e, iters=4).collect()}
    assert got == {"a": (2, 1.5), "b": (2, 2.0), "c": (2, 1.5)}
    with pytest.raises(ValueError, match="still expanding"):
        harmonic_closeness(e, iters=1)


def test_harmonic_closeness_collect_guard(spark, monkeypatch):
    from asctb_ct_label_mapper_spark.operators import graph
    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded
    from asctb_ct_label_mapper_spark.operators.graph import (
        harmonic_closeness,
    )

    e = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}", 1.0) for i in range(30)],
        "src string, dst string, w double",
    )
    monkeypatch.setattr(graph, "LOCAL_EDGE_ROWS", 5)
    with pytest.raises(GroupBoundExceeded, match="harmonic_closeness"):
        harmonic_closeness(e)


def test_vocab_overlap_sources_hand_case(spark):
    """Vocabularies {a,b,c} vs {b,c,d}: jaccard = 2/4, containment
    (alphabetically first source as A) = 2/3; duplicate tokens within
    a source count once; empty-string tokens (double spaces) drop."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        vocab_overlap_sources,
    )

    df = spark.createDataFrame(
        [("a b  c a", "s1"), ("b c d", "s2")],
        "text string, source string",
    )
    r = vocab_overlap_sources(df).first()
    assert (r["source_a"], r["source_b"]) == ("s1", "s2")
    assert r["n_common"] == 2
    assert abs(r["jaccard"] - 0.5) < 1e-9
    assert abs(r["containment_a_in_b"] - round(2 / 3, 6)) < 1e-9


def test_lsh_scurve_known_values(spark):
    """Spot values: (b=1, r=16): p = s^16; (b=16, r=1): p = 1-(1-s)^16;
    every p is within [0, 1] and increases with s for fixed (b, r)."""
    from asctb_ct_label_mapper_spark.operators.dedup import lsh_scurve

    rows = lsh_scurve(spark, n_hashes=16).collect()
    tbl = {(r["bands"], r["rows_per_band"], r["s"]): r["p_candidate"]
           for r in rows}
    assert abs(tbl[(1, 16, 0.5)] - round(0.5 ** 16, 6)) < 1e-9
    assert abs(tbl[(16, 1, 0.5)] - round(1 - 0.5 ** 16, 6)) < 1e-9
    for (b, r, s), p in tbl.items():
        assert 0.0 <= p <= 1.0
        up = tbl.get((b, r, round(s + 0.1, 6)))
        if up is not None:
            assert up >= p - 1e-9
