"""Unit tests for the round-11 second batch: t-closeness, ranking
metrics, binned quantile sketch, label propagation, EWMA backtest."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# t-closeness
# ---------------------------------------------------------------------------

def test_t_closeness_categorical_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    # global: a 50/50 over {x, y}; group g1 is 100% x -> dist 0.5;
    # group g2 is 50/50 -> dist 0.0
    df = spark.createDataFrame(
        [("g1", "x"), ("g1", "x"), ("g2", "x"), ("g2", "y"),
         ("g3", "y"), ("g3", "y")],
        "qc string, s string",
    )
    row = t_closeness_report(df, ["qc"], "s", t=0.3).collect()[0]
    assert row["n_groups"] == 3
    assert row["violating_groups"] == 2  # g1 and g3, each dist 0.5
    assert row["max_dist"] == pytest.approx(0.5)
    assert not row["t_close"]


def test_t_closeness_ordered_emd_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    # domain {1,2,3} global uniform (2 each); group a = all 1s:
    # p-q cum = (1-1/3, -1/3+1-1/3... ) -> cum after v1=2/3, v2=1/3, v3=0
    # EMD = (2/3 + 1/3 + 0) / (3-1) = 0.5
    rows = [("a", 1), ("a", 1)] + [("b", v) for v in (1, 2, 2, 3, 3)]
    # global counts: 1->3, 2->2, 3->2 (7 rows)
    df = spark.createDataFrame(rows, "qc string, s int")
    got = {
        r["qc"]: None
        for r in df.select("qc").distinct().collect()
    }
    rep = t_closeness_report(df, ["qc"], "s", t=10.0, ordered=True)
    row = rep.collect()[0]
    # hand-computed: q = (3/7, 2/7, 2/7); group a p=(1,0,0):
    # cum = 4/7, 2/7, 0 -> emd = (4/7+2/7)/2 = 3/7
    assert row["max_dist"] == pytest.approx(3.0 / 7.0, abs=1e-6)
    assert row["t_close"]
    assert row["n_groups"] == len(got)


def test_t_closeness_null_sensitive_excluded(spark):
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    df = spark.createDataFrame(
        [("g1", "x"), ("g1", None), ("g2", "x")], "qc string, s string"
    )
    row = t_closeness_report(df, ["qc"], "s", t=0.1).collect()[0]
    # with NULLs excluded both groups are 100% x = the global dist
    assert row["violating_groups"] == 0
    assert row["t_close"]


def test_t_closeness_single_value_domain_ordered(spark):
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    df = spark.createDataFrame(
        [("g1", 5), ("g2", 5)], "qc string, s int"
    )
    row = t_closeness_report(df, ["qc"], "s", t=0.0, ordered=True).collect()[0]
    # m = 1: EMD defined as 0 (greatest(m-1,1) guard)
    assert row["max_dist"] == pytest.approx(0.0)
    assert row["t_close"]


# ---------------------------------------------------------------------------
# ranking metrics
# ---------------------------------------------------------------------------

def _run_qrels(spark):
    run = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q1", 3, 3),
         ("q2", 1, 1), ("q2", 2, 2)],
        "query string, doc_id int, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", 1, 3), ("q1", 3, 1), ("q1", 9, 2),
         ("q2", 7, 1)],
        "query string, doc_id int, rel int",
    )
    return run, qrels


def test_ranking_metrics_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.retrieval import (
        ranking_metrics,
    )

    run, qrels = _run_qrels(spark)
    rows = {
        r["query"]: r
        for r in ranking_metrics(run, qrels, k=3).collect()
    }
    # q1: dcg = 7/log2(2) + 0 + 1/log2(4) = 7 + 0.5 = 7.5
    # ideal order rel desc: 3,2,1 -> idcg = 7 + 3/log2(3) + 1/2
    idcg = 7.0 + 3.0 / math.log2(3.0) + 0.5
    assert rows["q1"]["ndcg"] == pytest.approx(7.5 / idcg, abs=1e-6)
    assert rows["q1"]["mrr"] == pytest.approx(1.0)
    assert rows["q1"]["p_at_k"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert rows["q1"]["r_at_k"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    # q2 retrieved nothing relevant
    assert rows["q2"]["ndcg"] == 0.0
    assert rows["q2"]["mrr"] == 0.0
    assert rows["q2"]["r_at_k"] == 0.0


def test_ranking_metrics_rank_filter(spark):
    from asctb_ct_label_mapper_spark.operators.retrieval import (
        ranking_metrics,
    )

    run, qrels = _run_qrels(spark)
    # k=1 keeps only rank 1: q1 hits its rel-3 doc
    rows = {
        r["query"]: r for r in ranking_metrics(run, qrels, k=1).collect()
    }
    assert rows["q1"]["ndcg"] == pytest.approx(1.0)
    assert rows["q1"]["p_at_k"] == pytest.approx(1.0)


def test_ranking_metrics_query_with_no_judgments(spark):
    from asctb_ct_label_mapper_spark.operators.retrieval import (
        ranking_metrics,
    )

    run = spark.createDataFrame(
        [("qx", 1, 1)], "query string, doc_id int, rank int"
    )
    qrels = spark.createDataFrame(
        [], "query string, doc_id int, rel int"
    )
    row = ranking_metrics(run, qrels, k=5).collect()[0]
    assert row["ndcg"] == 0.0 and row["r_at_k"] == 0.0


# ---------------------------------------------------------------------------
# binned quantiles
# ---------------------------------------------------------------------------

def test_binned_quantiles_within_bin_width(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.sketches import (
        binned_quantiles,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = {
        r["q"]: r["estimate"]
        for r in binned_quantiles(
            ev, "value", lo=0.0, hi=400.0, n_bins=400,
            qs=(0.5, 0.9)
        ).collect()
    }
    vals = sorted(
        r["value"] for r in ev.select("value").collect()
        if r["value"] is not None
    )
    for q in (0.5, 0.9):
        exact = vals[math.ceil(q * len(vals)) - 1]
        assert abs(est[q] - exact) <= 1.0 + 1e-9  # one bin width


def test_binned_quantiles_clamps_out_of_domain(spark):
    from asctb_ct_label_mapper_spark.operators.sketches import (
        binned_quantiles,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.5,), (1.5,), (99.0,)], "value double"
    )
    rows = binned_quantiles(
        df, "value", lo=0.0, hi=10.0, n_bins=10, qs=(0.25,)
    ).collect()
    # -5 clamps into bin 0; 99 into bin 9; p25 (rank 1 of 4) = bin 0
    assert rows[0]["estimate"] == pytest.approx(1.0)


def test_binned_quantiles_rejects_bad_domain(spark):
    from asctb_ct_label_mapper_spark.operators.sketches import (
        binned_quantiles,
    )

    df = spark.createDataFrame([(1.0,)], "value double")
    with pytest.raises(ValueError):
        binned_quantiles(df, "value", lo=5.0, hi=5.0)


def test_binned_quantiles_merge_property(spark):
    """Bin counts are combinable: quantiles of a union equal quantiles
    computed from the summed histograms (trivially true by plan shape,
    pinned here as the mergeability contract)."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        binned_quantiles,
    )

    a = spark.range(0, 500).select((F.col("id") % 100).cast("double").alias("value"))
    b = spark.range(0, 300).select((F.col("id") % 50).cast("double").alias("value"))
    u = a.unionAll(b)
    direct = {
        r["q"]: r["estimate"]
        for r in binned_quantiles(
            u, "value", 0.0, 100.0, n_bins=100, qs=(0.5,)
        ).collect()
    }
    # a holds 0..99 x5, b holds 0..49 x6 -> n=800, ceil(.5*800)=400;
    # cum at bin k<50 is 11(k+1): first >=400 is bin 36 -> upper edge 37
    assert direct[0.5] == pytest.approx(37.0)


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------

def _lpa_edges(spark):
    # two cliques {a,b,c} and {x,y,z} joined by one weak bridge c-x
    rows = [
        ("a", "b", 5.0), ("b", "c", 5.0), ("a", "c", 5.0),
        ("x", "y", 5.0), ("y", "z", 5.0), ("x", "z", 5.0),
        ("c", "x", 1.0),
    ]
    return spark.createDataFrame(rows, "src string, dst string, w double")


def test_label_propagation_two_cliques(spark):
    from asctb_ct_label_mapper_spark.operators.graph import (
        label_propagation,
    )

    got = {
        r["node"]: r["community"]
        for r in label_propagation(_lpa_edges(spark), iters=4).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"


def test_label_propagation_frames_matches_local(spark):
    """The driver fold equals the DuckDB mirror over the same edges."""
    import duckdb

    from asctb_ct_label_mapper_spark.operators.graph import (
        label_propagation,
        sql_label_propagation,
    )

    edges = _lpa_edges(spark)
    local = sorted(
        (r["node"], r["community"])
        for r in label_propagation(edges, iters=3).collect()
    )
    con = duckdb.connect()
    con.register("edges_in", edges.toPandas())
    oracle = sorted(
        con.sql(
            "WITH edges AS (SELECT * FROM edges_in), "
            f"{sql_label_propagation(3)}"
        ).fetchall()
    )
    assert local == oracle


def test_label_propagation_pair_oscillates(spark):
    """Synchronous LPA swaps labels every iteration on a bipartite
    pair — the documented sync artifact; odd iters = swapped, even
    iters = back to identity, deterministically on both impls."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [("m", "n", 1.0)], "src string, dst string, w double"
    )
    after1 = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iters=1).collect()
    }
    after2 = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iters=2).collect()
    }
    assert after1 == {"m": "n", "n": "m"}
    assert after2 == {"m": "m", "n": "n"}


def test_label_propagation_rejects_bad_impl(spark, monkeypatch):
    """Both driver folds collect through the bounded guard: an edge list
    past ``graph.LOCAL_EDGE_ROWS`` raises instead of being collected."""
    from asctb_ct_label_mapper_spark.operators import graph
    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded

    monkeypatch.setattr(graph, "LOCAL_EDGE_ROWS", 2)
    with pytest.raises(GroupBoundExceeded, match="label_propagation"):
        graph.label_propagation(_lpa_edges(spark))
    with pytest.raises(GroupBoundExceeded, match="pagerank"):
        graph.pagerank(_lpa_edges(spark), 6)


# ---------------------------------------------------------------------------
# EWMA backtest
# ---------------------------------------------------------------------------

def test_ewma_backtest_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        ewma_backtest,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 10.0)], "d int, y double"
    )
    row = ewma_backtest(df, "d", "y", alpha=0.5).collect()[0]
    # s1=10; pred2=10, e=10; s2=15; pred3=15, e=-5
    assert row["n_steps"] == 2
    assert row["mae"] == pytest.approx(7.5)
    assert row["rmse"] == pytest.approx(math.sqrt((100 + 25) / 2), abs=1e-6)
    smape = (2 * 10 / (20 + 10) + 2 * 5 / (10 + 15)) / 2
    assert row["smape"] == pytest.approx(smape, abs=1e-6)


def test_ewma_backtest_single_point_empty_metrics(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        ewma_backtest,
    )

    df = spark.createDataFrame([(1, 10.0)], "d int, y double")
    row = ewma_backtest(df, "d", "y").collect()[0]
    assert row["n_steps"] == 0
    assert row["mae"] is None


def test_ewma_backtest_matches_loop(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        ewma_backtest,
    )

    ys = [3.0, 7.0, 1.0, 9.0, 4.0, 4.0, 8.0, 2.0]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], "d int, y double"
    )
    row = ewma_backtest(df, "d", "y", alpha=0.5).collect()[0]
    s = ys[0]
    errs = []
    for y in ys[1:]:
        errs.append(y - s)
        s = 0.5 * y + 0.5 * s
    mae = sum(abs(e) for e in errs) / len(errs)
    assert row["mae"] == pytest.approx(mae, abs=1e-6)


# ---------------------------------------------------------------------------
# agreement kappa
# ---------------------------------------------------------------------------

def test_agreement_kappa_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        agreement_kappa,
    )

    # classic 2x2: a=yes/no vs b, n=10
    rows = (
        [("y", "y")] * 4 + [("y", "n")] * 1
        + [("n", "y")] * 2 + [("n", "n")] * 3
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = agreement_kappa(df, "a", "b").collect()[0]
    po = 7 / 10
    pe = (5 * 6 + 5 * 4) / 100  # row_y*col_y + row_n*col_n over N^2
    assert r["n"] == 10
    assert r["po"] == pytest.approx(po)
    assert r["pe"] == pytest.approx(pe)
    assert r["kappa"] == pytest.approx((po - pe) / (1 - pe), abs=1e-6)


def test_agreement_kappa_constant_raters_null(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        agreement_kappa,
    )

    df = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string"
    )
    r = agreement_kappa(df, "a", "b").collect()[0]
    assert r["pe"] == pytest.approx(1.0)
    assert r["kappa"] is None  # undefined, not perfect


def test_agreement_kappa_null_labels_excluded(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        agreement_kappa,
    )

    df = spark.createDataFrame(
        [("x", "x"), ("x", None), (None, "x"), ("y", "y")],
        "a string, b string",
    )
    r = agreement_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 2
    assert r["po"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# calibration report
# ---------------------------------------------------------------------------

def test_calibration_report_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        calibration_report,
    )

    # two bins: probs .1/.1 labels 0,1 ; probs .9/.9 labels 1,1
    df = spark.createDataFrame(
        [(0.1, 0), (0.1, 1), (0.9, 1), (0.9, 1)], "p double, y int"
    )
    rows = {r["bin"]: r for r in calibration_report(df, "p", "y", 10).collect()}
    assert rows[1]["mean_prob"] == pytest.approx(0.1)
    assert rows[1]["frac_pos"] == pytest.approx(0.5)
    assert rows[9]["frac_pos"] == pytest.approx(1.0)
    brier = ((0.1 - 0) ** 2 + (0.1 - 1) ** 2 + 2 * (0.9 - 1) ** 2) / 4
    assert rows[1]["brier"] == pytest.approx(brier, abs=1e-6)
    # ece: bin1 |1-0.2|/4? -> sum|sy-sp|/N = (|1-0.2| + |2-1.8|)/4
    ece = (abs(1 - 0.2) + abs(2 - 1.8)) / 4
    assert rows[9]["ece"] == pytest.approx(ece, abs=1e-6)


def test_calibration_report_clamps_prob_one(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        calibration_report,
    )

    df = spark.createDataFrame([(1.0, 1), (0.0, 0)], "p double, y int")
    rows = {r["bin"]: r for r in calibration_report(df, "p", "y", 10).collect()}
    assert set(rows) == {0, 9}  # p=1.0 clamps into the last bin


# ---------------------------------------------------------------------------
# cohort LTV
# ---------------------------------------------------------------------------

def test_cohort_ltv_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.behavior import cohort_ltv

    rows = [
        # user 1: first event day 0 (week 0), buys 10 in w0, 20 in w1
        (1, "2024-01-01 00:00:00", "purchase", 10.0),
        (1, "2024-01-08 00:00:00", "purchase", 20.0),
        # user 2: first event day 1 (week 0) is a view, never buys
        (2, "2024-01-02 00:00:00", "view", 99.0),
        # user 3: first event week 1, buys 30 same week
        (3, "2024-01-09 00:00:00", "purchase", 30.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["cohort_start"], r["age"]): r
        for r in cohort_ltv(
            df, value_where=F.col("event_type") == "purchase"
        ).collect()
    }
    # 2024-01-01 is a Monday; epoch-week buckets are not ISO weeks but
    # consistent: day 19723 // 7 = 2817 -> starts 2023-12-28
    (w0_key,) = {k for k in out if k[1] == 0 and out[k]["n_users"] == 2}
    w0 = out[w0_key]
    assert w0["period_value"] == pytest.approx(10.0)
    assert w0["ltv"] == pytest.approx(5.0)  # 10 / 2 acquired users
    w0a1 = out[(w0_key[0], 1)]
    assert w0a1["cum_value"] == pytest.approx(30.0)
    assert w0a1["ltv"] == pytest.approx(15.0)
    # user 3's own cohort
    (w1_key,) = {k for k in out if out[k]["n_users"] == 1}
    assert out[w1_key]["ltv"] == pytest.approx(30.0)


def test_cohort_ltv_rejects_bad_granularity(spark):
    from asctb_ct_label_mapper_spark.operators.behavior import cohort_ltv

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "x", 1.0)],
        "user_id int, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(ValueError):
        cohort_ltv(df, granularity="fortnight")


def test_cohort_ltv_month_granularity(spark):
    from asctb_ct_label_mapper_spark.operators.behavior import cohort_ltv

    rows = [
        (1, "2024-01-15 00:00:00", "purchase", 5.0),
        (1, "2024-03-02 00:00:00", "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["age"]: r for r in cohort_ltv(df, granularity="month").collect()
    }
    assert out[0]["cohort_start"] == "2024-01-01"
    assert out[2]["cum_value"] == pytest.approx(12.0)


# ---------------------------------------------------------------------------
# r11 review-fix regressions
# ---------------------------------------------------------------------------

def test_t_closeness_null_quasi_group_matches_own_cells(spark):
    """A NULL quasi-key group whose sensitive distribution equals the
    global one must NOT be flagged (null-safe cell re-join)."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    df = spark.createDataFrame(
        [(None, "x"), (None, "y"), ("g", "x"), ("g", "y")],
        "qc string, s string",
    )
    row = t_closeness_report(df, ["qc"], "s", t=0.1).collect()[0]
    assert row["n_groups"] == 2
    assert row["violating_groups"] == 0
    assert row["max_dist"] == pytest.approx(0.0)


def test_t_closeness_null_quasi_oracle_parity(spark, tmp_path):
    import duckdb

    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_t_closeness_report,
        t_closeness_report,
    )

    df = spark.createDataFrame(
        [(None, "x"), (None, "y"), ("g", "x"), ("g", "x"), ("h", "y")],
        "qc string, s string",
    )
    pq = str(tmp_path / "tc.parquet")
    df.write.parquet(pq)
    got = t_closeness_report(
        spark.read.parquet(pq), ["qc"], "s", t=0.3
    ).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{pq}/*.parquet'")
    want = con.sql(
        sql_t_closeness_report("t", ["qc"], "s", t=0.3)
    ).fetchone()
    assert (got["n_groups"], got["violating_groups"]) == want[:2]
    assert got["max_dist"] == pytest.approx(want[2])


def test_binned_quantiles_integer_exact_rank(spark):
    """q*n float overshoot (0.07*100 = 7.000000000000001) must not
    bump the nearest rank from 7 to 8."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        binned_quantiles,
    )

    # 100 values: 7 in bin 0, 93 in bin 9 -> rank 7 is still bin 0
    vals = [0.5] * 7 + [9.5] * 93
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    rows = binned_quantiles(
        df, "value", lo=0.0, hi=10.0, n_bins=10, qs=(0.07,)
    ).collect()
    assert rows[0]["estimate"] == pytest.approx(1.0)  # bin 0 upper edge


def test_ewma_backtest_rejects_degenerate_alpha(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        ewma_backtest,
    )

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "d int, y double")
    for bad in (0.0, 1.0, 1.5, -0.2):
        with pytest.raises(ValueError):
            ewma_backtest(df, "d", "y", alpha=bad)


def test_ewma_backtest_smape_zero_over_zero_counts(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        ewma_backtest,
    )

    # y: 0,0,4 -> preds: 0 (0/0 step), 0 -> smape = (0 + 2*4/4)/2 = 1
    df = spark.createDataFrame(
        [(1, 0.0), (2, 0.0), (3, 4.0)], "d int, y double"
    )
    row = ewma_backtest(df, "d", "y", alpha=0.5).collect()[0]
    assert row["n_steps"] == 2
    assert row["smape"] == pytest.approx(1.0)


def test_bm25_runs_rejects_empty_query(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.retrieval import bm25_runs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        bm25_runs(docs, {"q1": ["spark"], "q2": []})


def test_cohort_ltv_month_oracle_pads_small_years(spark, tmp_path):
    import duckdb

    from asctb_ct_label_mapper_spark.operators.behavior import (
        cohort_ltv,
        sql_cohort_ltv,
    )

    df = spark.createDataFrame(
        [(1, "0985-03-02 00:00:00", "purchase", 3.0)],
        "user_id int, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    pq = str(tmp_path / "ltv.parquet")
    df.write.parquet(pq)
    got = cohort_ltv(
        spark.read.parquet(pq), granularity="month"
    ).collect()[0]["cohort_start"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM '{pq}/*.parquet'")
    want = con.sql(
        sql_cohort_ltv("ev", granularity="month")
    ).fetchone()[0]
    assert got == want == "0985-03-01"


# ---------------------------------------------------------------------------
# funnel time-to-convert
# ---------------------------------------------------------------------------

def _ttc_events(spark):
    rows = [
        (1, "2024-01-01 00:00:00", "signup"),
        (1, "2024-01-01 00:01:40", "purchase"),   # 100 s
        (2, "2024-01-01 00:00:00", "signup"),
        (2, "2024-01-01 00:05:00", "purchase"),   # 300 s
        (3, "2024-01-01 00:00:00", "signup"),     # never converts
        (4, "2024-01-01 00:00:00", "purchase"),   # purchase before signup
        (4, "2024-01-01 00:10:00", "signup"),
    ]
    return spark.createDataFrame(
        rows, "user_id int, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_funnel_time_to_convert_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.behavior import (
        funnel_time_to_convert,
    )

    row = funnel_time_to_convert(
        _ttc_events(spark), ["signup", "purchase"], qs=(0.5,)
    ).collect()[0]
    assert row["n_converted"] == 2
    assert row["mean_s"] == pytest.approx(200.0)
    assert row["q_50"] == 100  # nearest rank ceil(0.5*2)=1 -> 100 s


def test_funnel_time_to_convert_empty(spark):
    from asctb_ct_label_mapper_spark.operators.behavior import (
        funnel_time_to_convert,
    )

    df = _ttc_events(spark).filter(F.col("event_type") == "signup")
    row = funnel_time_to_convert(
        df, ["signup", "purchase"], qs=(0.5,)
    ).collect()[0]
    assert row["n_converted"] == 0
    assert row["mean_s"] is None


def test_funnel_time_to_convert_needs_two_steps(spark):
    from asctb_ct_label_mapper_spark.operators.behavior import (
        funnel_time_to_convert,
    )

    with pytest.raises(ValueError):
        funnel_time_to_convert(_ttc_events(spark), ["signup"])


def test_funnel_time_to_convert_matches_funnel_counts(spark, sf_dir):
    """'Converted' must mean exactly what funnel_steps counts at the
    last step (shared reach frame)."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        funnel_steps,
        funnel_time_to_convert,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    steps = ["signup", "view", "purchase"]
    last = [
        r["users"]
        for r in funnel_steps(ev, steps).collect()
        if r["step"] == 3
    ][0]
    ttc = funnel_time_to_convert(ev, steps).collect()[0]
    assert ttc["n_converted"] == last


# ---------------------------------------------------------------------------
# MDE
# ---------------------------------------------------------------------------

def test_ab_mde_closed_form(spark):
    import math

    from asctb_ct_label_mapper_spark.operators.experiment import (
        Z_ALPHA_05_TWO_SIDED,
        Z_POWER_80,
        ab_mde,
    )

    # arm 0 (even users): metrics 0, 10 -> var 50; arm 1: 4, 8 -> var 8
    rows = [
        (2, "purchase", 10.0), (4, "x", 1.0),
        (1, "purchase", 4.0), (3, "purchase", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_type string, value double"
    )
    r = ab_mde(df).collect()[0]
    se = math.sqrt(50.0 / 2 + 8.0 / 2)
    assert r["n0"] == 2 and r["n1"] == 2
    assert r["se_diff"] == pytest.approx(se, abs=1e-6)
    assert r["mde_abs"] == pytest.approx(
        (Z_ALPHA_05_TWO_SIDED + Z_POWER_80) * se, abs=1e-5
    )
    assert r["mde_rel"] == pytest.approx(r["mde_abs"] / 5.0, abs=1e-5)


def test_ab_mde_zero_control_mean_null_rel(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import ab_mde

    rows = [
        (2, "x", 1.0), (4, "x", 1.0),
        (1, "purchase", 4.0), (3, "purchase", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_type string, value double"
    )
    r = ab_mde(df).collect()[0]
    assert r["mean0"] == 0.0
    assert r["mde_rel"] is None


# ---------------------------------------------------------------------------
# lift table
# ---------------------------------------------------------------------------

def test_lift_table_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import lift_table

    # scores 10..1, positives are the top 3 scores
    rows = [(i, float(11 - i), 1 if i <= 3 else 0) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "id int, s double, y int")
    out = {r["tile"]: r for r in lift_table(df, "s", "y", "id", 5).collect()}
    # tile 1 = scores 10,9 -> both positive
    assert out[1]["n_pos"] == 2
    assert out[1]["pos_rate"] == pytest.approx(1.0)
    assert out[1]["lift"] == pytest.approx(1.0 / 0.3, abs=1e-6)
    assert out[1]["cum_capture"] == pytest.approx(2 / 3, abs=1e-6)
    # tile 2 = scores 8,7 -> one positive (score 8 = id 3)
    assert out[2]["n_pos"] == 1
    assert out[5]["cum_capture"] == pytest.approx(1.0)


def test_lift_table_no_positives_null(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import lift_table

    df = spark.createDataFrame(
        [(1, 0.9, 0), (2, 0.1, 0)], "id int, s double, y int"
    )
    out = lift_table(df, "s", "y", "id", 2).collect()
    assert all(r["cum_capture"] is None and r["lift"] is None for r in out)


# ---------------------------------------------------------------------------
# segment uplift scan
# ---------------------------------------------------------------------------

def test_segment_uplift_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        segment_uplift_scan,
    )

    # dim 'g': segment a is 100% positive (4/4), b is 0% (0/4);
    # overall rate 0.5
    rows = [("a", "x", 1)] * 4 + [("b", "x", 0)] * 4
    df = spark.createDataFrame(rows, "g string, h string, y int")
    out = {
        (r["dim"], r["value"]): r
        for r in segment_uplift_scan(
            df, ["g", "h"], "y", min_n=1, k=10
        ).collect()
    }
    a = out[("g", "a")]
    assert a["pos_rate"] == pytest.approx(1.0)
    assert a["lift"] == pytest.approx(2.0)
    # chi2 = (4 - 4*0.5)^2 / (4*0.25) = 4
    assert a["chi2"] == pytest.approx(4.0)
    # the all-rows segment h=x has rate == overall -> chi2 0
    assert out[("h", "x")]["chi2"] == pytest.approx(0.0)


def test_segment_uplift_min_n_floor_and_k(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        segment_uplift_scan,
    )

    rows = [("a", 1)] * 40 + [("b", 0)] * 5
    df = spark.createDataFrame(rows, "g string, y int")
    out = segment_uplift_scan(df, ["g"], "y", min_n=30, k=10).collect()
    assert [r["value"] for r in out] == ["a"]  # b under the floor


def test_segment_uplift_requires_dims(spark):
    from asctb_ct_label_mapper_spark.operators.experiment import (
        segment_uplift_scan,
    )

    df = spark.createDataFrame([("a", 1)], "g string, y int")
    with pytest.raises(ValueError):
        segment_uplift_scan(df, [], "y")


# ---------------------------------------------------------------------------
# baseline backtests
# ---------------------------------------------------------------------------

def test_backtest_baselines_closed_form(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        backtest_baselines,
    )

    ys = [10.0, 12.0, 11.0, 15.0]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], "d int, y double"
    )
    out = {
        r["method"]: r
        for r in backtest_baselines(df, season=2).collect()
    }
    # naive: preds 10,12,11 vs 12,11,15 -> |e| = 2,1,4
    assert out["naive"]["n_steps"] == 3
    assert out["naive"]["mae"] == pytest.approx(7.0 / 3.0, abs=1e-6)
    # snaive (m=2): preds 10,12 vs 11,15 -> |e| = 1,3
    assert out["snaive"]["n_steps"] == 2
    assert out["snaive"]["mae"] == pytest.approx(2.0)
    # drift: t=3: 12+(12-10)/1=14 vs 11 -> 3; t=4: 11+(11-10)/2=11.5 vs 15
    assert out["drift"]["n_steps"] == 2
    assert out["drift"]["mae"] == pytest.approx((3.0 + 3.5) / 2.0, abs=1e-6)


def test_backtest_baselines_short_series(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        backtest_baselines,
    )

    df = spark.createDataFrame([(1, 5.0)], "d int, y double")
    assert backtest_baselines(df, season=7).collect() == []


# ---------------------------------------------------------------------------
# r11 second-review regressions
# ---------------------------------------------------------------------------

def test_exact_nearest_rank_rejects_long_decimals():
    from asctb_ct_label_mapper_spark.operators.sketches import (
        exact_nearest_rank,
    )

    assert exact_nearest_rank(0.07) == (7, 100)
    assert exact_nearest_rank(0.999) == (999, 1000)
    with pytest.raises(ValueError):
        exact_nearest_rank(1 / 3)  # 16-digit numerator would overflow


def test_q_label_injective():
    from asctb_ct_label_mapper_spark.operators.behavior import _q_label

    assert _q_label(0.25) == "q_25"
    assert _q_label(0.125) == "q_12_5"
    assert _q_label(0.12) == "q_12"
    assert _q_label(0.125) != _q_label(0.12)


def test_bm25_runs_rejects_empty_dict(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.retrieval import bm25_runs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        bm25_runs(docs, {})


def test_sql_ewma_backtest_rejects_degenerate_alpha():
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_ewma_backtest,
    )

    with pytest.raises(ValueError):
        sql_ewma_backtest("SELECT 1 AS d, 1.0 AS y", alpha=1.0)
