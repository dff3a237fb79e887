"""Top-k similarity join: strategy equivalence, determinism, plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
    top_k_similarity_blocked,
    top_k_similarity_join,
)
from asctb_ct_label_mapper_spark.plans.audit import assert_broadcast_join


def _vec_tables(spark, n_q=20, n_r=50, dim=8, seed=0):
    rng = np.random.RandomState(seed)
    q = [(i, rng.standard_normal(dim).astype(np.float32).tolist()) for i in range(n_q)]
    r = [(1000 + i, rng.standard_normal(dim).astype(np.float32).tolist()) for i in range(n_r)]
    qdf = spark.createDataFrame(q, "vec_id long, embedding array<float>")
    rdf = spark.createDataFrame(r, "vec_id long, embedding array<float>")
    return qdf, rdf


def _collect_ranked(df):
    return sorted(
        (r["vec_id"], r["rank"], r["ref_id"], round(r["score"], 9)) for r in df.collect()
    )


def test_join_and_blocked_strategies_agree(spark):
    qdf, rdf = _vec_tables(spark)
    a = top_k_similarity_join(qdf, rdf, 3, ["vec_id"], "vec_id")
    b = top_k_similarity_blocked(qdf, rdf, 3, ["vec_id"], "vec_id")
    assert _collect_ranked(a) == _collect_ranked(b)


def test_topk_counts_and_rank_range(spark):
    qdf, rdf = _vec_tables(spark, n_q=5, n_r=10)
    out = top_k_similarity_join(qdf, rdf, 4, ["vec_id"], "vec_id").collect()
    assert len(out) == 5 * 4
    assert {r["rank"] for r in out} == {1, 2, 3, 4}


def test_tie_break_is_min_ref_id(spark):
    # two identical reference vectors -> equal scores -> lower id wins rank 1
    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    r = spark.createDataFrame(
        [(20, [2.0, 0.0]), (10, [4.0, 0.0]), (30, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = top_k_similarity_join(q, r, 2, ["vec_id"], "vec_id").orderBy("rank").collect()
    assert [row["ref_id"] for row in out] == [10, 20]


def test_blocked_boundary_tie_broken_by_id(spark):
    """Regression (found by the mapping_report oracle): with duplicate
    reference vectors tied exactly AT the k-th score, argpartition's
    arbitrary cut must not decide which id survives — the min id must,
    matching the window strategy's (score DESC, id ASC) row_number."""
    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    # 900 is the best match; 500 and 100 are identical (tied) at rank 2 —
    # insertion order puts the HIGHER id first so a naive cut keeps 500
    r = spark.createDataFrame(
        [(900, [1.0, 0.1]), (500, [0.5, 0.5]), (100, [0.5, 0.5]), (700, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    blocked = top_k_similarity_blocked(q, r, 2, ["vec_id"], "vec_id").orderBy("rank").collect()
    joined = top_k_similarity_join(q, r, 2, ["vec_id"], "vec_id").orderBy("rank").collect()
    assert [row["ref_id"] for row in blocked] == [900, 100]
    assert [row["ref_id"] for row in blocked] == [row["ref_id"] for row in joined]


def test_k_larger_than_reference(spark):
    qdf, rdf = _vec_tables(spark, n_q=3, n_r=2)
    a = top_k_similarity_join(qdf, rdf, 5, ["vec_id"], "vec_id")
    b = top_k_similarity_blocked(qdf, rdf, 5, ["vec_id"], "vec_id")
    assert a.count() == 3 * 2
    assert _collect_ranked(a) == _collect_ranked(b)


def test_empty_reference_blocked_equals_join(spark):
    """An empty reference gives no rows on either exact rung, also for a
    query without a direction (the cross join has nothing to pair it
    with); the blocked rung used to size its query matrix from the empty
    reference and fail on the shape."""
    from asctb_ct_label_mapper_spark.operators.similarity import similarity_topk

    q = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, None)], "vec_id long, embedding array<float>"
    )
    r = spark.createDataFrame([], "vec_id long, embedding array<float>")
    joined = top_k_similarity_join(q, r, 2, ["vec_id"], "vec_id").collect()
    blocked = similarity_topk(q, r, 2, ["vec_id"], "vec_id", impl="blocked").collect()
    assert joined == blocked == []


def test_ivf_on_one_row_reference(spark):
    """A 1-row reference skips k-means (MLlib rejects k < 2) and uses
    one list: every query gets the one reference row."""
    from asctb_ct_label_mapper_spark.operators.similarity import similarity_topk

    q = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, [0.0, 2.0])], "vec_id long, embedding array<float>"
    )
    r = spark.createDataFrame([(7, [2.0, 1.0])], "vec_id long, embedding array<float>")
    got = similarity_topk(q, r, 2, ["vec_id"], "vec_id", impl="ivf").collect()
    assert sorted((x["vec_id"], x["ref_id"], x["rank"]) for x in got) == [
        (1, 7, 1), (2, 7, 1)
    ]


def test_join_strategy_broadcasts_reference(spark):
    qdf, rdf = _vec_tables(spark)
    out = top_k_similarity_join(qdf, rdf, 3, ["vec_id"], "vec_id")
    assert_broadcast_join(out)


def test_lsh_recall_reasonable(spark):
    qdf, rdf = _vec_tables(spark, n_q=30, n_r=60, dim=8, seed=1)
    exact = top_k_similarity_join(qdf, rdf, 1, ["vec_id"], "vec_id")
    approx = lsh_bucketed_topk(qdf, rdf, 1, ["vec_id"], "vec_id", n_planes=4)
    exact_best = {(r["vec_id"], r["ref_id"]) for r in exact.collect()}
    approx_best = {(r["vec_id"], r["ref_id"]) for r in approx.collect()}
    recall = len(exact_best & approx_best) / len(exact_best)
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"


def test_ivf_recall_reasonable(spark):
    qdf, rdf = _vec_tables(spark, n_q=30, n_r=60, dim=8, seed=2)
    exact = top_k_similarity_join(qdf, rdf, 1, ["vec_id"], "vec_id")
    approx = ivf_topk(qdf, rdf, 1, ["vec_id"], "vec_id", n_lists=6, n_probe=2)
    exact_best = {(r["vec_id"], r["ref_id"]) for r in exact.collect()}
    approx_best = {(r["vec_id"], r["ref_id"]) for r in approx.collect()}
    recall = len(exact_best & approx_best) / len(exact_best)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"


def test_null_query_vector_ranks_last(spark):
    # null embedding -> null score; desc ordering puts nulls last, so real
    # matches still occupy ranks 1..k and the query row never crashes
    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<float>"
    )
    r = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = top_k_similarity_join(q, r, 1, ["vec_id"], "vec_id").collect()
    by_q = {row["vec_id"]: row for row in out}
    assert by_q[1]["ref_id"] == 10 and by_q[1]["score"] is not None
    assert by_q[2]["score"] is None  # null query still yields a row, ranked over nulls


def test_ref_payload_columns_ride_along(spark):
    qdf, rdf = _vec_tables(spark, n_q=2, n_r=3)
    rdf = rdf.withColumn("payload", F.concat(F.lit("p"), F.col("vec_id")))
    out = top_k_similarity_join(
        qdf, rdf, 1, ["vec_id"], "vec_id", ref_payload_cols=["payload"]
    )
    rows = out.collect()
    assert all(r["payload"] == f"p{r['ref_id']}" for r in rows)


def test_ivf_index_reused_across_query_batches(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_topk,
        seeded_centroids,
    )
    from asctb_ct_label_mapper_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    index, cents, spherical = ivf_build_index(
        reference, "vec_id", n_lists=8, centroids=seeded_centroids(64, 8)
    )
    index = index.persist()
    for mod in (0, 5):  # two different query batches against ONE index
        batch = emb.filter(F.col("vec_id") % 10 == mod).select(
            "vec_id", "embedding"
        )
        got = sorted(
            map(
                tuple,
                ivf_query_index(
                    index, cents, spherical, batch, 3, ["vec_id"], n_probe=2
                )
                .select("vec_id", "ref_id", "rank")
                .collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                ivf_topk(
                    batch, reference, 3, ["vec_id"], "vec_id",
                    n_lists=8, n_probe=2, centroids=seeded_centroids(64, 8),
                )
                .select("vec_id", "ref_id", "rank")
                .collect(),
            )
        )
        assert got == want and len(got) > 0
    index.unpersist()


def test_ivf_trained_kmeans_path_still_works(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.similarity import ivf_topk
    from asctb_ct_label_mapper_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    q = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id", "embedding")
    r = emb.filter(F.col("vec_id") % 7 != 0).select("vec_id", "embedding")
    out = ivf_topk(q, r, 2, ["vec_id"], "vec_id", n_lists=4, n_probe=2)
    rows = out.collect()
    assert rows and all(r2["rank"] in (1, 2) for r2 in rows)


def test_pq_topk_recall_vs_exact(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.similarity import (
        pq_topk,
        top_k_similarity_join,
    )
    from asctb_ct_label_mapper_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    r = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    exact = {
        (row["vec_id"], row["ref_id"])
        for row in top_k_similarity_join(q, r, 3, ["vec_id"], "vec_id").collect()
    }
    approx_rows = pq_topk(
        q, r, 3, ["vec_id"], "vec_id", n_sub=8, n_codes=16, refine=16
    ).collect()
    approx = {(row["vec_id"], row["ref_id"]) for row in approx_rows}
    # rank-1 candidates always survive a generous refine on random data?
    # no guarantee — assert aggregate overlap instead: seeded (untrained)
    # codebooks on random gaussians should still recover a solid fraction
    # of the exact top-3 set, and every query must return exactly k rows
    per_q: dict = {}
    for row in approx_rows:
        per_q[row["vec_id"]] = per_q.get(row["vec_id"], 0) + 1
    assert set(per_q.values()) == {3}
    # measured on seeded (untrained) codebooks over isotropic random
    # vectors: recall ~0.63 at refine=16, ~0.81 at refine=32 — the
    # worst-case regime for PQ (no cluster structure to quantize);
    # trained codebooks on real embeddings sit far higher. The assert
    # pins the floor, the numbers live in SCALING.md.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.55, f"PQ recall collapsed: {recall:.2f}"
    # exact rescore: every reported score equals the true cosine (PQ only
    # prunes candidates, never alters scores)
    exact_scores = {
        (row["vec_id"], row["ref_id"]): round(row["score"], 6)
        for row in top_k_similarity_join(q, r, 50, ["vec_id"], "vec_id").collect()
    }
    for row in approx_rows:
        key = (row["vec_id"], row["ref_id"])
        if key in exact_scores:
            assert abs(round(row["score"], 6) - exact_scores[key]) < 1e-9


def test_pq_empty_reference_returns_empty(spark):
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.operators.similarity import pq_topk

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    q = spark.createDataFrame([(1, [0.1] * 64)], schema)
    r = spark.createDataFrame([], schema)
    out = pq_topk(q, r, 3, ["vec_id"], "vec_id")
    assert out.count() == 0
    # same output schema as a non-empty reference (shared rescore tail)
    assert out.columns == ["vec_id", "ref_id", "score", "rank"]
    assert out.schema == pq_topk(q, q, 1, ["vec_id"], "vec_id").schema


def test_pq_wrong_dim_raises_clearly(spark):
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.operators.similarity import pq_topk

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame([(i, [0.5] * 32) for i in range(4)], schema)
    import pytest as _pytest

    with _pytest.raises(Exception, match="codebooks cover"):
        pq_topk(df, df, 2, ["vec_id"], "vec_id").count()


def test_trained_codebooks_beat_seeded_on_clustered_data(spark):
    """VERDICT r6 #6: spherical-k-means-trained sub-codebooks lift recall
    over the data-independent seeded ones on clustered embeddings (the
    regime real corpora live in — the seeded flavor stays the oracle
    anchor, trained is the production recall upgrade)."""
    import numpy as np

    from asctb_ct_label_mapper_spark.operators.similarity import (
        pq_topk,
        top_k_similarity_join,
        train_subcodebooks,
    )

    rng = np.random.RandomState(5)
    dim, n_clusters = 64, 12
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(600) % n_clusters] + 0.15 * rng.standard_normal((600, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in pts[i]]) for i in range(600)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") % 10 == 0)
    r = df.filter(F.col("vec_id") % 10 != 0)

    exact = {
        (row["vec_id"], row["ref_id"])
        for row in top_k_similarity_join(q, r, 3, ["vec_id"], "vec_id").collect()
    }

    def recall(codebooks) -> float:
        got = {
            (row["vec_id"], row["ref_id"])
            for row in pq_topk(
                q, r, 3, ["vec_id"], "vec_id",
                n_sub=8, n_codes=16, refine=4, codebooks=codebooks,
            ).collect()
        }
        return len(exact & got) / len(exact)

    trained = train_subcodebooks(r, dim=dim, n_sub=8, n_codes=16)
    # unit-norm contract: the encode paths' max-dot == L2-argmin identity
    assert np.allclose(np.linalg.norm(trained, axis=2), 1.0)
    r_seeded = recall(None)  # pq_topk falls back to seeded_subcentroids
    r_trained = recall(trained)
    # measured on this fixture: seeded ~0.5, trained ~0.67 at refine=4 —
    # the asserts pin a real gap and a floor, not the exact values
    assert r_trained >= r_seeded + 0.05, (
        f"trained {r_trained:.2f} vs seeded {r_seeded:.2f}: no real lift"
    )
    assert r_trained >= 0.6, f"trained recall too low: {r_trained:.2f}"


def test_ann_recall_query_metrics(spark, sf_dir):
    """The registered ANN-QA query: LSH top-3 vs exact top-3 — n_pred ==
    n_truth (both emit k rows per query), recall substantial at this
    scale's auto-sized planes."""
    from asctb_ct_label_mapper_spark.queries import all_queries

    r = all_queries()["ann_recall_lsh"](spark, sf_dir).collect()[0]
    assert r["n_pred"] == r["n_truth"] > 0
    # measured ~0.49 at sf0.001 (auto-sized 4 planes, 45 refs), ~0.66 at
    # sf0.01 — the assert pins "substantially better than random", the
    # numbers live in SCALING.md
    assert r["recall"] is not None and r["recall"] >= 0.35
    assert r["precision"] == r["recall"]  # equal set sizes => P == R


class TestMmrRerank:
    def test_demotes_redundant_candidates(self, spark):
        """Plain top-2 returns two near-identical refs; MMR must swap the
        redundant second pick for the diverse one."""
        from asctb_ct_label_mapper_spark.operators.similarity import mmr_rerank

        q = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        # ref 10 must NOT align with the query exactly, else every
        # candidate's sim-to-10 equals its own relevance and MMR is
        # degenerate (all margins identical)
        ref_rows = [
            (10, [0.95, 0.3122, 0.0]),   # best match (sc ~0.95)
            (11, [0.94, 0.3412, 0.0]),   # near-duplicate of 10 (sim ~0.999)
            (12, [0.90, -0.4359, 0.0]),  # diverse, decent score (sc 0.90)
        ]
        r = spark.createDataFrame(ref_rows, "vec_id long, embedding array<double>")
        pool = top_k_similarity_join(q, r, 3, ["vec_id"], "vec_id").select(
            "vec_id", "ref_id", "score"
        )
        plain = [row["ref_id"] for row in
                 pool.orderBy(F.desc("score"), "ref_id").limit(2).collect()]
        assert plain == [10, 11]
        mmr = {row["mmr_rank"]: row["ref_id"] for row in
               mmr_rerank(pool, r, k=2, lam=0.5).collect()}
        assert mmr[1] == 10 and mmr[2] == 12  # diversity beats redundancy

    def test_rank1_is_pure_relevance_and_k_bounded(self, spark, sf_dir):
        from asctb_ct_label_mapper_spark.operators.similarity import mmr_rerank
        from asctb_ct_label_mapper_spark.schemas import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
        r = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
        pool = top_k_similarity_join(q, r, 6, ["vec_id"], "vec_id").select(
            "vec_id", "ref_id", "score"
        )
        best = {row["vec_id"]: row["ref_id"] for row in
                top_k_similarity_join(q, r, 1, ["vec_id"], "vec_id").collect()}
        out = mmr_rerank(pool, r, k=3, lam=0.7).collect()
        per_q = {}
        for row in out:
            per_q.setdefault(row["vec_id"], []).append(row)
        for qid, rows in per_q.items():
            assert len(rows) == 3
            r1 = next(x for x in rows if x["mmr_rank"] == 1)
            assert r1["ref_id"] == best[qid]  # first pick = max relevance
            assert abs(r1["mmr_score"] - 0.7 * r1["score"]) < 1e-9


def test_multiprobe_lifts_recall_monotonically(spark, sf_dir):
    """Multi-probe candidates are a SUPERSET of base candidates (base
    buckets always probed), so recall@k is monotone in m — and measurably
    so on the fixture (sf0.01: 0.43 -> 0.69 -> 0.83 for m=0,1,2)."""
    from asctb_ct_label_mapper_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    r = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    exact = {(x["vec_id"], x["ref_id"]) for x in
             top_k_similarity_join(q, r, 3, ["vec_id"], "vec_id").collect()}

    def recall(m):
        got = {(x["vec_id"], x["ref_id"]) for x in
               lsh_bucketed_topk(q, r, 3, ["vec_id"], "vec_id",
                                 n_planes=None, multiprobe=m).collect()}
        return len(exact & got) / len(exact)

    r0, r1, r2 = recall(0), recall(1), recall(2)
    assert r0 <= r1 <= r2
    assert r1 >= r0 + 0.1, f"multiprobe=1 no real lift: {r0:.2f} -> {r1:.2f}"


class TestIvfPq:
    def test_recall_and_shape(self, spark, sf_dir):
        from asctb_ct_label_mapper_spark.operators.similarity import ivfpq_topk
        from asctb_ct_label_mapper_spark.schemas import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
        r = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
        exact = {(x["vec_id"], x["ref_id"]) for x in
                 top_k_similarity_join(q, r, 3, ["vec_id"], "vec_id").collect()}
        rows = ivfpq_topk(q, r, 3, ["vec_id"], "vec_id").collect()
        got = {(x["vec_id"], x["ref_id"]) for x in rows}
        per_q = {}
        for x in rows:
            per_q[x["vec_id"]] = per_q.get(x["vec_id"], 0) + 1
        assert set(per_q.values()) == {3}
        # approximate on two axes (coarse lists AND codes): the defaults
        # are harsh on 45 isotropic refs (~0.19 measured) — assert only a
        # collapsed floor at defaults, and that the two knobs (probe more
        # lists, refine deeper) recover recall substantially
        recall = len(exact & got) / len(exact)
        assert recall >= 0.1, f"IVF-PQ recall collapsed: {recall:.2f}"
        wide = {
            (x["vec_id"], x["ref_id"])
            for x in ivfpq_topk(
                q, r, 3, ["vec_id"], "vec_id", n_probe=4, refine=8
            ).collect()
        }
        recall_wide = len(exact & wide) / len(exact)
        assert recall_wide >= recall + 0.15, (
            f"knobs did not recover recall: {recall:.2f} -> {recall_wide:.2f}"
        )
        # exact rescore contract: reported scores are true cosines
        truth = {
            (x["vec_id"], x["ref_id"]): round(x["score"], 6)
            for x in top_k_similarity_join(q, r, 100, ["vec_id"], "vec_id").collect()
        }
        for x in rows:
            key = (x["vec_id"], x["ref_id"])
            if key in truth:
                assert abs(round(x["score"], 6) - truth[key]) < 1e-9

    def test_codes_never_broadcast(self, spark, sf_dir):
        """The design point vs plain PQ: the code table is a DataFrame
        joined on list id — no codes matrix collect in the plan path
        (collect would appear as a driver action before the query plan;
        here the only pre-plan work is centroid/codebook literals)."""
        from asctb_ct_label_mapper_spark.operators.similarity import ivfpq_topk
        from asctb_ct_label_mapper_spark.schemas import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
        r = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
        out = ivfpq_topk(q, r, 3, ["vec_id"], "vec_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the candidate join on the list id is a real join in the plan
        assert "lid" in plan
        # no FORCED broadcast of the code table: the only broadcast HINT
        # in the logical plan is the survivor-id rescore (AQE may still
        # adaptively broadcast a tiny index at toy scale — that is its
        # call, not a hint baked into the operator)
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 1, analyzed.count("ResolvedHint")


def test_zero_norm_reference_row_scores_null_last(spark):
    """A zero-norm reference row has no direction: on both exact rungs it
    scores NULL and ranks after every scored row, ties by ascending ref
    id (the join rung's score DESC NULLS LAST, ref_id ASC); k = C shows
    every rank."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    r = spark.createDataFrame(
        [(30, [0.0, 0.0]), (20, [1.0, 0.0]), (10, [0.0, 0.0]), (40, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )

    def ranked(df):
        return sorted(
            (x["vec_id"], x["rank"], x["ref_id"], None if x["score"] is None else round(x["score"], 9))
            for x in df.collect()
        )

    joined = ranked(top_k_similarity_join(q, r, 4, ["vec_id"], "vec_id"))
    blocked = ranked(top_k_similarity_blocked(q, r, 4, ["vec_id"], "vec_id"))
    assert joined == blocked
    for qid in (1, 2):
        tail = [(x[2], x[3]) for x in blocked if x[0] == qid][2:]
        assert tail == [(10, None), (30, None)]


def test_lsh_and_hnsw_read_a_pinned_reference(spark, spark_jobs):
    """Inside ``pin_reference`` the LSH rung reads the reference's count
    and dim, and the HNSW rung its ids and unit matrix, from the pin:
    building either plan runs no job, and the results equal the unpinned
    ones."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        hnsw_topk,
        pin_reference,
    )

    qdf, rdf = _vec_tables(spark, n_q=12, n_r=40, dim=8, seed=3)
    rungs = {
        "lsh": lambda: lsh_bucketed_topk(
            qdf, rdf, 3, ["vec_id"], "vec_id", n_planes=None
        ),
        "hnsw": lambda: hnsw_topk(qdf, rdf, 3, ["vec_id"], "vec_id", m=4),
    }
    unpinned = {name: _collect_ranked(build()) for name, build in rungs.items()}
    with pin_reference(rdf, "vec_id"):
        for name, build in rungs.items():
            plan, jobs = spark_jobs(build)
            assert jobs == [], name
            assert _collect_ranked(plan) == unpinned[name], name
    assert len(unpinned["hnsw"]) == 12 * 3


def test_lsh_empty_reference_gives_no_rows(spark):
    """An empty reference gives no LSH rows, as on the exact rungs, with
    the columns of a non-empty result: its derived dim is 0, and no
    hyperplane is drawn for it."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, None)], "vec_id long, embedding array<float>"
    )
    r = spark.createDataFrame([], "vec_id long, embedding array<float>")
    empty = lsh_bucketed_topk(q, r, 2, ["vec_id"], "vec_id", n_planes=None)
    assert empty.collect() == []
    one = spark.createDataFrame([(7, [2.0, 1.0])], "vec_id long, embedding array<float>")
    full = lsh_bucketed_topk(q.filter("vec_id = 1"), one, 2, ["vec_id"], "vec_id")
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
