"""The top-k ladder's `impl='auto'` routing.

Auto routes on the reference alone, as the flagship does: the blocked
rung while the reference fits the broadcast budget, IVF past it. It
never counts the queries. The decision function is pure, so its
boundary is tested without a Spark job; the dispatch is exercised on
tiny frames, and the auto rung's end-to-end value parity is carried by
the `cos_topk_auto` registry entry (same oracle as the exact rungs)."""

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators import similarity as sim
from asctb_ct_label_mapper_spark.operators.similarity import (
    EXACT_FLOP_BUDGET,
    REF_BROADCAST_BUDGET_BYTES,
    choose_similarity_impl,
    similarity_topk,
)
from asctb_ct_label_mapper_spark.plans.audit import formatted_plan


def test_small_regime_is_blocked():
    assert choose_similarity_impl(100, 1000, 64) == "blocked"


def test_query_count_never_moves_the_route():
    # the old flop budget's boundary, and far past it: still blocked
    d = 64
    c = 10_000
    q_at = int(EXACT_FLOP_BUDGET // (c * d))
    for q in (0, q_at, q_at + 1, 10**12):
        assert choose_similarity_impl(q, c, d) == "blocked"


def test_broadcast_boundary_crosses_to_ivf():
    d = 64
    c_at = REF_BROADCAST_BUDGET_BYTES // (d * 8)
    assert choose_similarity_impl(10, c_at, d) == "blocked"
    assert choose_similarity_impl(10, c_at + 1, d) == "ivf"


def test_unknown_impl_raises(spark):
    df = spark.range(1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="unknown impl"):
        similarity_topk(
            df, df, 1, ["vec_id"], "vec_id", impl="nope"
        )


def _frames(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    return emb.filter(F.col("vec_id") % 10 == 0), emb.filter(F.col("vec_id") % 10 != 0)


def _rows(df):
    """(query, ref, score to 9 dp, rank): the exact rungs differ in the
    last ulp of the cosine (BLAS matmul against the native dot)."""
    return [
        (r["vec_id"], r["ref_id"], round(r["score"], 9), r["rank"])
        for r in df.orderBy("vec_id", "rank").collect()
    ]


def test_auto_dispatch_matches_explicit_join(spark):
    """Auto gives the explicit blocked call's rows and, rank for rank,
    the join rung's scores. The ids are compared against blocked only:
    this fixture's integer vectors tie exactly (query 10 scores refs 5
    and 6 both 3/sqrt(10)), and the two rungs' last-ulp cosines can
    order such a pair differently."""
    q, r = _frames(spark)
    auto = _rows(similarity_topk(q, r, 3, ["vec_id"], "vec_id", impl="auto"))
    blocked = _rows(similarity_topk(q, r, 3, ["vec_id"], "vec_id", impl="blocked"))
    join = _rows(similarity_topk(q, r, 3, ["vec_id"], "vec_id", impl="join"))
    assert auto == blocked
    assert [(v, s, rk) for v, _, s, rk in auto] == [(v, s, rk) for v, _, s, rk in join]


def test_auto_in_budget_is_blocked_without_counting_queries(spark, monkeypatch):
    """Inside the budget auto plans the blocked rung's MapInPandas, with
    no Window, from one read of the reference's stats and no count."""
    q, r = _frames(spark)
    calls = []

    def spy(fn):
        def wrapped(*args, **kwargs):
            calls.append(fn.__name__)
            return fn(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(type(q), "count", spy(type(q).count))
    monkeypatch.setattr(sim, "reference_stats", spy(sim.reference_stats))
    plan = formatted_plan(similarity_topk(q, r, 3, ["vec_id"], "vec_id", impl="auto"))
    assert calls == ["reference_stats"]
    assert "MapInPandas" in plan
    assert "Window" not in plan


def test_auto_past_patched_budget_takes_ivf(spark, monkeypatch):
    """The budget is read at call time: patched below the reference's
    size, auto and the decision function both take IVF."""
    q, r = _frames(spark)
    monkeypatch.setattr(sim, "REF_BROADCAST_BUDGET_BYTES", 100)
    assert choose_similarity_impl(4, 36, 3) == "ivf"
    auto = similarity_topk(q, r, 3, ["vec_id"], "vec_id", impl="auto")
    assert "MapInPandas" not in formatted_plan(auto)
    ivf = similarity_topk(q, r, 3, ["vec_id"], "vec_id", impl="ivf")
    assert _rows(auto) == _rows(ivf)
