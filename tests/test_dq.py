"""Data-quality expectation report: each check kind fires on a crafted
violation and stays green on clean data; the report is one row per check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.dq import Check, evaluate_checks


def _report(spark, tables, checks):
    return {
        r.check: (r.metric, r.passed)
        for r in evaluate_checks(tables, checks).collect()
    }


def test_checks_fire_on_violations(spark):
    orders = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 99)], "o_orderkey bigint, o_custkey bigint"
    )
    customer = spark.createDataFrame([(10,)], "c_custkey bigint")
    docs = spark.createDataFrame(
        [(1, None), (2, "ok")], "doc_id bigint, text string"
    )
    li = spark.createDataFrame([(0.2,), (0.9,)], "l_discount double")
    tables = {"orders": orders, "customer": customer,
              "documents": docs, "lineitem": li}
    got = _report(spark, tables, [
        Check("cnt", "row_count_min", "orders", threshold=5),
        Check("uniq", "unique", "orders", column="o_orderkey"),
        Check("fk", "fk_orphans", "orders", column="o_custkey",
              parent_table="customer", parent_key="c_custkey"),
        Check("nulls", "null_fraction_max", "documents", column="text",
              threshold=0.1),
        Check("range", "value_range", "lineitem", column="l_discount",
              lo=0.0, hi=0.5),
    ])
    assert got["cnt"] == (3.0, 0)       # 3 < 5
    assert got["uniq"] == (1.0, 0)      # one duplicate orderkey
    assert got["fk"] == (1.0, 0)        # custkey 99 has no parent
    assert got["nulls"] == (0.5, 0)     # half the texts are NULL
    assert got["range"] == (1.0, 0)     # max 0.9 > hi
    assert len(got) == 5


def test_checks_pass_on_clean_data(spark):
    orders = spark.createDataFrame(
        [(1, 10), (2, 10)], "o_orderkey bigint, o_custkey bigint"
    )
    customer = spark.createDataFrame([(10,)], "c_custkey bigint")
    tables = {"orders": orders, "customer": customer}
    got = _report(spark, tables, [
        Check("cnt", "row_count_min", "orders", threshold=2),
        Check("uniq", "unique", "orders", column="o_orderkey"),
        Check("fk", "fk_orphans", "orders", column="o_custkey",
              parent_table="customer", parent_key="c_custkey"),
    ])
    assert all(p == 1 for _, p in got.values())


def test_unknown_kind_raises(spark):
    t = spark.createDataFrame([(1,)], "x bigint")
    with pytest.raises(ValueError):
        evaluate_checks({"t": t}, [Check("bad", "nope", "t")])


def test_null_fk_counts_as_orphan(spark):
    """NULL foreign keys never match a parent in either engine's
    semantics (left-anti / NOT EXISTS) — pinned so it stays deliberate."""
    orders = spark.createDataFrame(
        [(1, None)], "o_orderkey bigint, o_custkey bigint"
    )
    customer = spark.createDataFrame([(10,)], "c_custkey bigint")
    got = _report(spark, {"orders": orders, "customer": customer}, [
        Check("fk", "fk_orphans", "orders", column="o_custkey",
              parent_table="customer", parent_key="c_custkey"),
    ])
    assert got["fk"] == (1.0, 0)


def test_empty_checks_list_raises(spark):
    from asctb_ct_label_mapper_spark.operators.dq import sql_evaluate_checks

    t = spark.createDataFrame([(1,)], "x bigint")
    with pytest.raises(ValueError):
        evaluate_checks({"t": t}, [])
    with pytest.raises(ValueError):
        sql_evaluate_checks([])


def test_null_fraction_on_empty_table_fails_not_null(spark):
    """Review finding: empty table -> NULL fraction; passed must be 0
    (matching the oracle's CASE semantics), never NULL."""
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    got = {
        r.check: r.passed
        for r in evaluate_checks(
            {"documents": empty},
            [Check("nf", "null_fraction_max", "documents", column="text",
                   threshold=0.5)],
        ).collect()
    }
    assert got["nf"] == 0


def test_assert_group_bound_passes_and_chains(spark):
    from asctb_ct_label_mapper_spark.operators.dq import assert_group_bound

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    out = assert_group_bound(df, ["k"], max_rows=2)
    assert out is df  # pass-through for chaining
    assert out.count() == 3


def test_assert_group_bound_raises_with_offender_detail(spark):
    import pytest

    from asctb_ct_label_mapper_spark.operators.dq import (
        GroupBoundExceeded,
        assert_group_bound,
    )

    df = spark.createDataFrame(
        [(1, i) for i in range(5)] + [(2, 0)], "k long, v long"
    )
    with pytest.raises(GroupBoundExceeded) as ei:
        assert_group_bound(df, ["k"], max_rows=3, label="journeys")
    msg = str(ei.value)
    assert "journeys" in msg and "k=1" in msg and "n=5" in msg


def test_user_journeys_group_bound_flag(spark):
    import pytest

    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded
    from asctb_ct_label_mapper_spark.operators.funnel import user_journeys
    from datetime import datetime

    rows = [(i, datetime(2024, 1, 1, 10, i), 1, "view") for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    # under the bound: same result as unbounded
    ok = user_journeys(df, max_group_rows=10).collect()
    assert len(ok) == 1 and ok[0]["n_events"] == 4
    with pytest.raises(GroupBoundExceeded):
        user_journeys(df, max_group_rows=3).collect()


def test_ewma_group_bound_flag(spark):
    import pytest

    from asctb_ct_label_mapper_spark.operators.dq import GroupBoundExceeded
    from asctb_ct_label_mapper_spark.operators.timeseries import ewma_by_key
    from datetime import datetime

    rows = [(i, datetime(2024, 1, 1 + i), 1, float(i)) for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    [r] = ewma_by_key(df, max_bucket_rows=4).collect()
    assert r["n_obs"] == 4
    with pytest.raises(GroupBoundExceeded):
        ewma_by_key(df, max_bucket_rows=3).collect()


def test_fetch_bounded_at_and_past_the_bound(spark, spark_jobs):
    """At exactly ``max_rows`` rows the helper returns the table, one row
    past it None, and a caller label turns None into the named error;
    either way the read is one job, also over several partitions."""
    from asctb_ct_label_mapper_spark.operators.dq import (
        GroupBoundExceeded,
        fetch_bounded,
    )

    at, past = (
        spark.range(0, n, 1, 3).withColumn("v", F.col("id") * 2) for n in (6, 7)
    )
    table, jobs = spark_jobs(lambda: fetch_bounded(at, ["id"], 6))
    assert len(jobs) == 1
    assert table.column_names == ["id"]
    assert sorted(table.column("id").to_pylist()) == list(range(6))
    table, jobs = spark_jobs(lambda: fetch_bounded(past, ["id"], 6))
    assert len(jobs) == 1
    assert table is None
    with pytest.raises(GroupBoundExceeded, match="probe"):
        fetch_bounded(past, ["id"], 6, "probe")
