"""Graph analytics operators — hand-computable fixtures: a basket set
with a known pair census, the triangle-plus-pendant graph, and
PageRank against an independent numpy fixed-point iteration."""

from __future__ import annotations


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_copurchase_edges_threshold(spark):
    """Pairs: AB in 3 orders, AC and BC in 1 — min_count prunes the
    one-off tail; src < dst orientation holds."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        copurchase_edges,
    )

    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20),
        (3, 10),  # duplicate line in the same order: counted once
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in copurchase_edges(li, min_count=1).collect()
    }
    assert got == {(10, 20): 3, (10, 30): 1, (20, 30): 1}
    got2 = {
        (r["src"], r["dst"]): r["w"]
        for r in copurchase_edges(li, min_count=2).collect()
    }
    assert got2 == {(10, 20): 3}


def test_degree_distribution_and_triangles(spark):
    """Triangle 1-2-3 with pendant 4 on node 3: degrees {1:2, 2:2,
    3:3, 4:1}, wedges ΣC(d,2) = 1+1+3+0 = 5, one triangle,
    clustering 3·1/5 = 0.6."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        degree_distribution,
        triangle_count,
    )

    e = _edges(spark, [(1, 2, 1), (2, 3, 1), (1, 3, 1), (3, 4, 1)])
    hist = {r["degree"]: r["n_nodes"]
            for r in degree_distribution(e).collect()}
    assert hist == {1: 1, 2: 2, 3: 1}
    [t] = triangle_count(e).collect()
    assert t["n_nodes"] == 4 and t["n_edges"] == 4
    assert t["n_wedges"] == 5 and t["n_triangles"] == 1
    assert abs(t["global_clustering"] - 0.6) < 1e-9


def test_triangle_count_no_wedges_null_clustering(spark):
    """A single edge has no wedges: clustering is NULL (try_divide),
    not a crash under the ANSI session."""
    from asctb_ct_label_mapper_spark.operators.graph import triangle_count

    [t] = triangle_count(_edges(spark, [(1, 2, 1)])).collect()
    assert t["n_triangles"] == 0 and t["n_wedges"] == 0
    assert t["global_clustering"] is None


def test_pagerank_matches_numpy_iteration(spark):
    """Weighted 3-node digraph vs an independent numpy run of the same
    simplified (no dangling redistribution) recurrence."""
    import numpy as np

    from asctb_ct_label_mapper_spark.operators.graph import pagerank

    rows = [(1, 2, 3), (1, 3, 1), (2, 3, 1), (3, 1, 1)]
    e = _edges(spark, rows)
    got = {r["node"]: r["pr"] for r in pagerank(e, 3, iters=10).collect()}

    d, n = 0.85, 3
    r = {k: 1.0 / n for k in (1, 2, 3)}
    outw = {1: 4.0, 2: 1.0, 3: 1.0}
    for _ in range(10):
        nxt = {k: (1 - d) / n for k in r}
        for s, t, w in rows:
            nxt[t] += d * r[s] * (w / outw[s])
        r = nxt
    for k in r:
        assert abs(got[k] - round(r[k], 6)) < 2e-6, (k, got[k], r[k])
    # symmetric 2-cycle: exact 1/2 each at every iteration
    cyc = _edges(spark, [(1, 2, 1), (2, 1, 1)])
    got2 = {x["node"]: x["pr"] for x in pagerank(cyc, 2, iters=5).collect()}
    assert got2 == {1: 0.5, 2: 0.5}


def test_association_rules_closed_form(spark):
    """Baskets {A,B}, {A,B}, {A,C}, {B}: n=4 baskets, n_A=3, n_B=3,
    n_C=1, AB pairs=2, AC=1. With min_count=1: conf(A->B)=2/3,
    lift = 2*4/(3*3) = 0.888889; conf(C->A)=1, lift = 4/3."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        association_rules,
    )

    rows = [
        (1, 10), (1, 20),
        (2, 10), (2, 20),
        (3, 10), (3, 30),
        (4, 20),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["antecedent"], r["consequent"]):
            (r["support_n"], r["confidence"], r["lift"])
        for r in association_rules(li, min_count=1).collect()
    }
    assert got[(10, 20)] == (2, round(2 / 3, 6), 0.888889)
    assert got[(20, 10)] == (2, round(2 / 3, 6), 0.888889)
    assert got[(30, 10)] == (1, 1.0, round(4 / 3, 6))
    assert got[(10, 30)] == (1, round(1 / 3, 6), round(4 / 3, 6))
    # confidence threshold prunes the weak direction only
    got2 = {
        (r["antecedent"], r["consequent"])
        for r in association_rules(
            li, min_count=1, min_confidence=0.5
        ).collect()
    }
    assert (30, 10) in got2 and (10, 30) not in got2


def test_copurchase_null_order_key_excluded(spark):
    """NULL order keys never form a basket (join semantics, mirrored
    by the shared pair census): two NULL-keyed rows must not pair —
    a groupBy would have silently merged every NULL row into one
    pseudo-basket (r10 review)."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        copurchase_edges,
    )

    rows = [(None, 10), (None, 20), (1, 10), (1, 30)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in copurchase_edges(li, min_count=1).collect()
    }
    assert got == {(10, 30): 1}


def test_assoc_rules_null_order_excluded_from_denominators(spark):
    """A NULL-order membership can never pair, so it must not count in
    n_a (r10 second review pass): with the NULL row, conf(10->30)
    would deflate to 2/3 — both engines now exclude it: 2/2 = 1.0."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        association_rules,
    )

    rows = [(None, 10), (1, 10), (1, 30), (2, 10), (2, 30)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["antecedent"], r["consequent"]): (r["confidence"], r["lift"])
        for r in association_rules(li, min_count=1).collect()
    }
    assert got[(10, 30)] == (1.0, 1.0)
    assert got[(30, 10)] == (1.0, 1.0)


def test_copurchase_basket_cap_forwarded(spark):
    """max_basket_size reaches the census: capping at 2 drops the
    3-item basket's pairs entirely."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        copurchase_edges,
    )

    rows = [(1, 10), (1, 20), (1, 30), (2, 10), (2, 20)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    capped = {
        (r["src"], r["dst"]): r["w"]
        for r in copurchase_edges(li, min_count=1, max_basket_size=2).collect()
    }
    assert capped == {(10, 20): 1}


def test_pair_census_plan_has_no_join(spark, sf_dir):
    """The r10 pair-census plan contract: NO join anywhere — one
    group-keyed aggregate, the in-row HOF pair explode, one pair
    count. A regression back to the self-join shape fails here."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        copurchase_edges,
    )
    from asctb_ct_label_mapper_spark.plans.audit import (
        assert_not_in_plan,
        formatted_plan,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan_df = copurchase_edges(li)
    assert_not_in_plan(plan_df, "SortMergeJoin", "BroadcastHashJoin")
    # exactly three Exchange operators: the basket groupBy, the
    # explicit explode-spreading repartition, and the pair count
    import re

    plan = formatted_plan(plan_df)
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 3, plan


def test_assoc_rules_single_census_subtree(spark, sf_dir):
    """r10 verdict #1 pinned: the direction union must read a PERSISTED
    edge table, not re-derive the census per branch — exactly ONE
    Generate (the HOF pair explode) in the whole plan."""
    import re

    from asctb_ct_label_mapper_spark.operators.graph import (
        association_rules,
    )
    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = formatted_plan(association_rules(li, min_count=3))
    # the census's pair-generation HOF (flatten(transform(items, ...)))
    # appears in exactly ONE Generate; the r11 one-aggregate rewrite
    # adds a second, cheap Generate (explode(items) for item counts)
    # that reads the same cached membership frame — count the census
    # explode specifically
    n_census = plan.count("flatten(transform(items")
    assert n_census == 1, plan


def test_graph_family_report_shared_census(spark, sf_dir):
    """The shared-census composite agrees with the standalone queries
    it subsumes (same min_count): degree rows == degree_distribution,
    triangle scalars == triangle_count, rule count == association_rules
    at the shared support floor."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        association_rules,
        copurchase_edges,
        degree_distribution,
        graph_family_report,
        triangle_count,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rep = {
        (r["family"], r["k"]): r["v"]
        for r in graph_family_report(
            li, min_count=2, rule_min_confidence=0.25
        ).collect()
    }
    edges = copurchase_edges(li, min_count=2)
    dh = {
        ("degree", r["degree"]): r["n_nodes"]
        for r in degree_distribution(edges).collect()
    }
    tri = triangle_count(edges).collect()[0]
    n_rules = association_rules(
        li, min_count=2, min_confidence=0.25
    ).count()
    expect = dict(dh)
    for c in ("n_nodes", "n_edges", "n_wedges", "n_triangles"):
        expect[(c, 0)] = tri[c]
    expect[("n_rules", 0)] = n_rules
    assert rep == expect


def test_assoc_rules_memberships_seam_identical(spark, sf_dir):
    """The caller-supplied census seam is a pure plan-sharing device:
    association_rules(memberships=...) returns exactly the standalone
    result."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        association_rules,
    )
    from asctb_ct_label_mapper_spark.operators.linkage import (
        group_memberships,
    )
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    mem = group_memberships(
        li.filter(F.col("l_partkey").isNotNull()),
        "l_orderkey",
        "l_partkey",
    ).persist()
    try:
        base = association_rules(li, min_count=3, min_confidence=0.05)
        seam = association_rules(
            li, min_count=3, min_confidence=0.05, memberships=mem
        )
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, seam.collect())
        )
    finally:
        mem.unpersist()


def test_item_cf_hand_cosine(spark):
    """Items 10,20 share 2 of their baskets -> cosine 2/sqrt(3*2);
    rank windows cut per item."""
    from asctb_ct_label_mapper_spark.operators.graph import item_cf_topk

    rows = [
        (1, 10), (1, 20),
        (2, 10), (2, 20),
        (3, 10), (3, 30),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {
        (r["item"], r["neighbor"]): r
        for r in item_cf_topk(li, min_count=1, top_k=2).collect()
    }
    import math

    exp = round(2 / math.sqrt(3 * 2), 6)
    assert out[(10, 20)]["cosine"] == exp
    assert out[(20, 10)]["cosine"] == exp
    assert out[(10, 20)]["cooc"] == 2
    # per-item rank: item 10's best neighbor is 20 (higher cosine)
    assert out[(10, 20)]["rnk"] == 1
