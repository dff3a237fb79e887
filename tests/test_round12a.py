"""Round-12 batch A: the sampled-gate seam for per-group KMV sketches
(verdict r12 #1/#5), the driver-local graph folds' bounded-collect
contract, k-core convergence detection, and the r12 ADVICE fixes
(degenerate correlation matrix, SQL containment guard)."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# kmv_sketch_by sampled-gate seam
# ---------------------------------------------------------------------------

def _kmv_df(spark, n=3000, groups=3):
    return spark.createDataFrame(
        [(f"g{i % groups}", f"item{i}") for i in range(n)],
        "g string, it string",
    )


def test_kmv_sketch_by_sampled_gate_equals_full(spark):
    """A row-sampled gate_df changes ONLY how much the prefilter cuts,
    never which bottom-k survives: forced-engagement result with a 10%
    sampled gate is row-for-row the safety=None exact formulation."""
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_sketch_by

    df = _kmv_df(spark)
    got = sorted(
        (r["g"], r["h"])
        for r in kmv_sketch_by(
            df, ["g"], "it", k=16, prefilter_min_pairs=0,
            gate_df=df.sample(fraction=0.1, seed=7), gate_scale=10.0,
        ).collect()
    )
    ref = sorted(
        (r["g"], r["h"])
        for r in kmv_sketch_by(df, ["g"], "it", k=16, safety=None).collect()
    )
    assert got == ref and len(got) == 48


def test_kmv_sketch_by_gate_overestimate_trips_guard(spark):
    """Pins that the cardinality estimate actually COMES FROM gate_df:
    a gate frame whose per-group distinct count wildly OVERESTIMATES
    the real data shrinks the keep-threshold until a filtered group
    keeps < k survivors — the loud exactness guard must fire.  If the
    implementation silently fell back to scanning df for the estimate,
    no error could occur (the r12 seam's regression tell)."""
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_sketch_by

    df = _kmv_df(spark, n=900)  # 300 distinct items per group
    fake_gate = spark.createDataFrame(
        [(f"g{i % 3}", f"fake{i}") for i in range(300_000)],
        "g string, it string",
    )
    with pytest.raises(ValueError, match="raise safety"):
        kmv_sketch_by(
            df, ["g"], "it", k=16, prefilter_min_pairs=0,
            gate_df=fake_gate,
        ).collect()


def test_kmv_sketch_by_gate_missing_group_unfiltered(spark):
    """A group the (sampled) gate never saw joins LEFT with a DOMAIN
    default — it passes unfiltered instead of being dropped by the old
    inner join: an EMPTY gate frame must still reproduce the exact
    bottom-k for every group."""
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_sketch_by

    df = _kmv_df(spark)
    empty_gate = df.filter(F.lit(False))
    got = sorted(
        (r["g"], r["h"])
        for r in kmv_sketch_by(
            df, ["g"], "it", k=16, prefilter_min_pairs=0,
            gate_df=empty_gate,
        ).collect()
    )
    ref = sorted(
        (r["g"], r["h"])
        for r in kmv_sketch_by(df, ["g"], "it", k=16, safety=None).collect()
    )
    assert got == ref and len(got) == 48


def test_vocab_growth_sketch_sampled_gate_equality(spark, sf_dir):
    """End-to-end: the doc-sampled gate flavor (the docs100x fix) is
    value-identical to the full-scan-gate flavor AND to the
    gate-disabled flavor under forced prefilter engagement."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        vocab_growth_sketch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sampled = sorted(
        map(
            tuple,
            vocab_growth_sketch(
                docs, gate_fraction=0.05, prefilter_min_pairs=0
            ).collect(),
        )
    )
    full_gate = sorted(
        map(
            tuple,
            vocab_growth_sketch(
                docs, gate_fraction=None, prefilter_min_pairs=0
            ).collect(),
        )
    )
    assert sampled == full_gate and len(sampled) == 10


def test_vocab_growth_sketch_single_full_explode_in_plan(spark, sf_dir):
    """Plan shape (verdict r12 #1 done-criterion): the RETURNED plan
    explodes the full gram stream exactly once — the gate's sampled
    explode is consumed eagerly at build time and must not re-appear,
    and no second full-stream Generate may creep back in."""
    import re

    from asctb_ct_label_mapper_spark.operators.textstats import (
        vocab_growth_sketch,
    )
    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(
        vocab_growth_sketch(docs, gate_fraction=0.05, prefilter_min_pairs=0)
    )
    n_gen = len(re.findall(r"^\(\d+\) Generate", plan, flags=re.M))
    assert n_gen == 1, plan


# ---------------------------------------------------------------------------
# driver-local graph folds: bounded collect + k-core convergence
# ---------------------------------------------------------------------------

def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w double")


def test_hits_and_kcore_collect_guard(spark, monkeypatch):
    """Both fold on the driver; an edge frame past
    ``graph.LOCAL_EDGE_ROWS`` raises the named GroupBoundExceeded instead
    of OOMing the driver."""
    from asctb_ct_label_mapper_spark.operators import graph
    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded
    from asctb_ct_label_mapper_spark.operators.graph import hits_scores, k_core

    e = _edges(
        spark, [(f"n{i}", f"n{i + 1}", 1.0) for i in range(50)]
    )
    monkeypatch.setattr(graph, "LOCAL_EDGE_ROWS", 10)
    with pytest.raises(GroupBoundExceeded, match="hits_scores"):
        hits_scores(e)
    with pytest.raises(GroupBoundExceeded, match="k_core"):
        k_core(e)
    # within the bound both still work
    monkeypatch.setattr(graph, "LOCAL_EDGE_ROWS", 100)
    assert hits_scores(e).count() == 51
    assert k_core(e, k=1).count() == 51


def test_k_core_nonconvergence_raises(spark):
    """A path graph peels only its two endpoints per pass, so iters=1
    leaves pending drops — the non-fixed-point result must raise, not
    silently return a subgraph that is not the k-core (r12 ADVICE
    item); enough iters converges to the empty 2-core."""
    from asctb_ct_label_mapper_spark.operators.graph import k_core

    path = _edges(
        spark, [(f"n{i}", f"n{i + 1}", 1.0) for i in range(6)]
    )
    with pytest.raises(ValueError, match="fixed point"):
        k_core(path, k=2, iters=1)
    assert k_core(path, k=2, iters=10).count() == 0  # acyclic: no 2-core


# ---------------------------------------------------------------------------
# ADVICE fixes: degenerate corr matrix, SQL containment guard
# ---------------------------------------------------------------------------

def test_corr_matrix_daily_types_single_type_empty(spark):
    """Fewer than 2 distinct event types -> an EMPTY frame with the
    (type_a, type_b, n_days, corr) schema, matching the SQL mirror's
    zero rows — not None (r12 ADVICE item)."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        corr_matrix_daily_types,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "view")] * 5,
        "ts string, event_type string",
    ).select(F.col("ts").cast("timestamp"), "event_type")
    out = corr_matrix_daily_types(df)
    assert out is not None and out.count() == 0
    assert out.columns == ["type_a", "type_b", "n_days", "corr"]


def test_sql_containment_pairs_threshold_guard():
    """The SQL mirror validates threshold > 0 exactly like its Spark
    twin: at threshold <= 0 the quadratic mirror would emit
    zero-overlap pairs the shared-shingle census can never produce
    (r12 ADVICE item)."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        sql_containment_pairs,
    )

    with pytest.raises(ValueError, match="threshold > 0"):
        sql_containment_pairs(threshold=0.0)
    assert "WITH sh AS" in sql_containment_pairs(threshold=0.5)


# ---------------------------------------------------------------------------
# plan pins for the bucketed scale flavors (verdict r12 #7) and the q21 seam
# ---------------------------------------------------------------------------

def _global_window_inputs(plan):
    """(input_line, args_line) for every Window node WITHOUT a partition
    spec: a partitioned Window's Arguments carry three top-level bracket
    groups [funcs], [partition], [order]; a global one only two."""
    import re

    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"^\(\d+\) Window", line):
            continue
        inp = args = ""
        for look in lines[i + 1 : i + 6]:
            if look.startswith("Input"):
                inp = look
            if look.startswith("Arguments:"):
                args = look
                break
        if args.count("], [") == 1:  # [funcs], [order] -- no partition
            out.append((inp, args))
    return out


@pytest.mark.parametrize(
    "qname", ["mann_whitney_purchase_bucketed", "woe_iv_doclen_bucketed"]
)
def test_bucketed_flavor_plan_no_global_fact_window(spark, sf_dir, qname):
    """The bucketed flavors exist to prevent the single-partition global
    rank; pin it (verdict r12 #7): every partition-less Window in the
    plan reads the BOUNDED bucket-offsets frame (its input carries the
    _bk_o offset column, n_buckets≈32 rows) — a global Window over
    fact-grain data is the regression this asserts away."""
    import __spark_entry__ as entry

    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    df = entry.queries()[qname](spark, sf_dir)
    plan = formatted_plan(df)
    offenders = [
        (inp, args)
        for inp, args in _global_window_inputs(plan)
        if "_bk_o" not in inp
    ]
    assert not offenders, offenders


def test_q21_impl_seam_agreement(spark, sf_dir):
    """The q21 skew seam (verdict r12 #6): impl='plain' and
    impl='bucketed' return identical answers; impl='auto' resolves to
    bucketed once the layout exists (it does after the bucketed call)
    and to a valid result either way; unknown impl raises."""
    from asctb_ct_label_mapper_spark.queries_tpch import q21_plan

    plain = sorted(map(tuple, q21_plan(spark, sf_dir, impl="plain").collect()))
    bucketed = sorted(
        map(tuple, q21_plan(spark, sf_dir, impl="bucketed").collect())
    )
    auto = sorted(map(tuple, q21_plan(spark, sf_dir, impl="auto").collect()))
    assert plain == bucketed == auto
    with pytest.raises(ValueError, match="unknown impl"):
        q21_plan(spark, sf_dir, impl="zorder")


def test_q21_auto_prefers_existing_layout(spark, sf_dir):
    """impl='auto' is catalog-driven: after ensure_bucketed_tables the
    readiness probe is True and auto takes the bucketed recipe (the
    elided-exchange plan: no Exchange hashpartitioning(l_orderkey...)
    below the late-set aggregates)."""
    from asctb_ct_label_mapper_spark.sources.bucketing import (
        bucketed_tables_ready,
        ensure_bucketed_tables,
    )

    ensure_bucketed_tables(spark, sf_dir)
    assert bucketed_tables_ready(spark, sf_dir) is True
