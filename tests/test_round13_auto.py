"""Round-13 verdict #3: the cost-based similarity strategy selector.

The decision function is pure, so every boundary is tested without a
Spark job; the dispatch itself is exercised on tiny frames and the
auto rung's end-to-end value parity is carried by the `cos_topk_auto`
registry entry (same oracle as the exact rungs)."""

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.similarity import (
    EXACT_FLOP_BUDGET,
    REF_BROADCAST_BUDGET_BYTES,
    choose_similarity_impl,
    similarity_topk,
)


def test_small_regime_is_join():
    assert choose_similarity_impl(100, 1000, 64) == "join"


def test_flop_boundary_crosses_to_blocked():
    # exactly at the budget: still join; one past: blocked
    d = 64
    c = 10_000
    q_at = int(EXACT_FLOP_BUDGET // (c * d))
    assert choose_similarity_impl(q_at, c, d) == "join"
    assert choose_similarity_impl(q_at + 1, c, d) == "blocked"


def test_broadcast_boundary_crosses_to_ivf():
    d = 64
    c_at = REF_BROADCAST_BUDGET_BYTES // (d * 8)
    assert choose_similarity_impl(10, c_at, d) in ("join", "blocked")
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


def test_auto_dispatch_matches_explicit_join(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") % 10 == 0)
    r = emb.filter(F.col("vec_id") % 10 != 0)
    auto = similarity_topk(
        q, r, 3, ["vec_id"], "vec_id", impl="auto"
    ).orderBy("vec_id", "rank")
    join = similarity_topk(
        q, r, 3, ["vec_id"], "vec_id", impl="join"
    ).orderBy("vec_id", "rank")
    assert [tuple(x) for x in auto.collect()] == [
        tuple(x) for x in join.collect()
    ]

