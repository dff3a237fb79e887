"""Round-12 batch F: Markov steady state, Chow structural break,
Adamic-Adar link prediction, Neyman-allocation sampling."""

import math

import pytest
from pyspark.sql import functions as F


def _ts_events(spark, rows):
    """rows: (event_id, user_id, event_type, day_idx)."""
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, day_idx int"
    )
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=F.col("day_idx"))
        ).alias("ts"),
    )


def test_markov_steady_state_two_state_chain(spark):
    """A deterministic a->b->a->b... cycle has steady state (0.5, 0.5)
    regardless of start."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_steady_state,
    )

    rows = [(i, 1, "a" if i % 2 == 0 else "b", i) for i in range(20)]
    out = {
        r["state"]: r["pi"]
        for r in markov_steady_state(_ts_events(spark, rows)).collect()
    }
    assert out["a"] == pytest.approx(0.5, abs=1e-6)
    assert out["b"] == pytest.approx(0.5, abs=1e-6)


def test_markov_steady_state_biased_chain(spark):
    """Chain that always moves to 'b' from anywhere and from 'b' to
    'a' half the time: analytic steady state pi_b = 2*pi_a with
    pi = (1/3, 2/3)."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_steady_state,
    )

    # user timeline: a b b a b b ... — EMPIRICAL counts (the trailing b
    # ends the sequence): a->b 12x, b->b 12x, b->a 11x, so
    # P(b->a) = 11/23 and the fixed point is pi_a = 11/34, pi_b = 23/34
    seq = ["a", "b", "b"] * 12
    rows = [(i, 1, t, i) for i, t in enumerate(seq)]
    out = {
        r["state"]: r["pi"]
        for r in markov_steady_state(
            _ts_events(spark, rows), iters=60
        ).collect()
    }
    assert out["a"] == pytest.approx(11 / 34, abs=1e-4)
    assert out["b"] == pytest.approx(23 / 34, abs=1e-4)


def test_markov_steady_state_bound_guard(spark, monkeypatch):
    from asctb_ct_label_mapper_spark.operators import behavior
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_steady_state,
    )
    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded

    rows = [(i, 1, f"t{i % 4}", i) for i in range(16)]
    monkeypatch.setattr(behavior, "LOCAL_TRANSITION_ROWS", 2)
    with pytest.raises(GroupBoundExceeded):
        markov_steady_state(_ts_events(spark, rows))


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


def test_chow_no_break_on_single_line(spark):
    """An exactly linear series is explained by one line: both halves
    fit perfectly, SSE_pooled = SSE_split = 0 and F degrades to NULL
    (0/0 via try_divide)."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        chow_test_daily,
    )

    counts = [3 + 2 * t for t in range(16)]
    r = chow_test_daily(_daily_events(spark, counts)).collect()[0]
    assert r["n_days"] == 16 and r["break_idx"] == 8
    assert r["sse_pooled"] == pytest.approx(0.0, abs=1e-6)
    assert r["sse_split"] == pytest.approx(0.0, abs=1e-6)
    assert r["f_stat"] is None
    assert r["df1"] == 2 and r["df2"] == 12


def test_chow_detects_slope_break(spark):
    """Slope 1 then slope 8 from the midpoint: the split fit is far
    better than the pooled one -> large positive F."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        chow_test_daily,
    )

    # ±1 alternating residuals keep each half's SSE positive (an exact
    # fit would zero the F denominator and degrade to NULL by contract)
    counts = [5 + t + (1 if t % 2 == 0 else -1) for t in range(10)] + [
        15 + 8 * t + (1 if t % 2 == 0 else -1) for t in range(10)
    ]
    r = chow_test_daily(_daily_events(spark, counts)).collect()[0]
    assert r["sse_split"] < r["sse_pooled"]
    assert r["f_stat"] > 10.0


def test_adamic_adar_triangle_closure(spark):
    """Path graph a-z, b-z (z the only shared neighbor, deg(z)=2):
    pair (a,b) scores 1/ln 2 with common=1 and is_edge=0; the direct
    edges score nothing (no shared neighbor) unless they share one."""
    from asctb_ct_label_mapper_spark.operators.graph import adamic_adar_topk

    edges = spark.createDataFrame(
        [("a", "z", 1.0), ("b", "z", 1.0)],
        "src string, dst string, w double",
    )
    out = adamic_adar_topk(edges).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["node_a"], r["node_b"]) == ("a", "b")
    assert r["common"] == 1
    assert r["aa_score"] == pytest.approx(1.0 / math.log(2.0), abs=1e-6)
    assert r["is_edge"] == 0


def test_adamic_adar_hub_discount_and_edge_flag(spark):
    """Two witnesses: a rare one (deg 2) and a hub (deg 4). The pair
    sharing the rare witness outranks the pair sharing only the hub;
    an existing edge is flagged is_edge=1."""
    from asctb_ct_label_mapper_spark.operators.graph import adamic_adar_topk

    edges = spark.createDataFrame(
        [
            ("a", "r", 1.0), ("b", "r", 1.0),          # rare witness r
            ("c", "h", 1.0), ("d", "h", 1.0),
            ("e", "h", 1.0), ("f", "h", 1.0),          # hub witness h
            ("a", "b", 1.0),                            # existing edge
        ],
        "src string, dst string, w double",
    )
    out = {(r["node_a"], r["node_b"]): r for r in
           adamic_adar_topk(edges, topk=50).collect()}
    # (a,b) witness r has deg 3 (a, b, and the a-b edge adds none to r)
    ab = out[("a", "b")]
    cd = out[("c", "d")]
    assert ab["is_edge"] == 1 and cd["is_edge"] == 0
    # r's degree: neighbors {a, b} = 2 -> weight 1/ln2; h deg 4 -> 1/ln4
    assert ab["aa_score"] == pytest.approx(1 / math.log(2), abs=1e-5)
    assert cd["aa_score"] == pytest.approx(1 / math.log(4), abs=1e-5)
    assert ab["aa_score"] > cd["aa_score"]


def test_neyman_allocation_favors_noisy_stratum(spark):
    """Two strata, equal size: zero-variance stratum draws nothing,
    the noisy stratum gets (almost) the whole budget."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        neyman_allocation,
    )

    rows = [(i, "flat", 5.0) for i in range(100)] + [
        (1000 + i, "noisy", float(i % 10)) for i in range(100)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = {r["stratum"]: r for r in
           neyman_allocation(ev, n_total=50).collect()}
    assert out["flat"]["stddev"] == pytest.approx(0.0)
    assert out["flat"]["alloc"] == 0 and out["flat"]["took"] == 0
    assert out["noisy"]["alloc"] == 50
    # hash-binomial draw around alloc: loose envelope, determinism is
    # the contract (re-run equality checked below)
    assert 25 <= out["noisy"]["took"] <= 75
    again = {r["stratum"]: r["took"] for r in
             neyman_allocation(ev, n_total=50).collect()}
    assert again["noisy"] == out["noisy"]["took"]


def test_neyman_allocation_proportional_when_equal_variance(spark):
    """Near-equal stddev strata with sizes 3:1 split the budget ~3:1
    (exact floors below: the small stratum's n-1 correction nudges its
    sample stddev up, so the big share floors to 74, not 75)."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        neyman_allocation,
    )

    rows = [(i, "big", float(i % 2)) for i in range(300)] + [
        (10_000 + i, "small", float(i % 2)) for i in range(100)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = {r["stratum"]: r for r in
           neyman_allocation(ev, n_total=100).collect()}
    assert out["big"]["alloc"] == 74
    assert out["small"]["alloc"] == 25
