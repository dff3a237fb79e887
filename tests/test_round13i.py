"""Round-13i: local clustering, eccentricity, resource-allocation."""

import pytest
from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src string, dst string, w double"
    )


def test_local_clustering_triangle_vs_star(spark):
    """K3 plus a pendant: triangle nodes cluster 1.0 (except the one
    with the pendant), the star center of the pendant is NULL
    (degree 1)."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        local_clustering_topk,
    )

    out = {
        r["node"]: r
        for r in local_clustering_topk(
            _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
        ).collect()
    }
    assert out["a"]["clustering"] == 1.0
    assert out["b"]["clustering"] == 1.0
    # c has degree 3, one triangle: 2*1/(3*2) = 1/3
    assert abs(out["c"]["clustering"] - 1 / 3) < 1e-6
    assert out["d"]["clustering"] is None  # degree 1


def test_eccentricity_path_graph(spark):
    """Path a-b-c-d: ecc(a)=3, ecc(b)=2, diameter 3, radius 2."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        graph_eccentricity,
    )

    out = {
        r["node"]: r
        for r in graph_eccentricity(
            _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        ).collect()
    }
    assert out["a"]["eccentricity"] == 3
    assert out["b"]["eccentricity"] == 2
    assert out["a"]["n_reachable"] == 3


def test_eccentricity_disconnected_components(spark):
    """Two components: reach stays inside the component; eccentricity
    is per-component, never infinite."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        graph_eccentricity,
    )

    out = {
        r["node"]: r
        for r in graph_eccentricity(
            _edges(spark, [("a", "b"), ("x", "y")])
        ).collect()
    }
    assert out["a"]["n_reachable"] == 1 and out["a"]["eccentricity"] == 1
    assert out["x"]["n_reachable"] == 1


def test_eccentricity_guard_raises_on_fact_scale(spark, monkeypatch):
    from asctb_ct_label_mapper_spark.operators import graph
    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded
    from asctb_ct_label_mapper_spark.operators.graph import (
        graph_eccentricity,
    )

    big = spark.range(100).select(
        F.col("id").cast("string").alias("src"),
        (F.col("id") + 1).cast("string").alias("dst"),
    )
    monkeypatch.setattr(graph, "LOCAL_ECCENTRICITY_ROWS", 10)
    with pytest.raises(GroupBoundExceeded):
        graph_eccentricity(big)


def test_resource_allocation_hand_computed(spark):
    """Star z connected to a,b,c: every pair shares ONLY z (deg 3), so
    RA = 1/3 for each, PA = 1*1 = 1, and no pair is an edge."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        resource_allocation_topk,
    )

    out = resource_allocation_topk(
        _edges(spark, [("z", "a"), ("z", "b"), ("z", "c")])
    ).collect()
    assert len(out) == 3
    for r in out:
        assert abs(r["ra_score"] - 1 / 3) < 1e-6
        assert r["pa_score"] == 1
        assert r["is_edge"] == 0
        assert r["common"] == 1
