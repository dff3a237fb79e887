"""Data-quality expectation report: the gate a corpus passes before a
training run (or a mapping release — the reference hand-inspects its
sheets at ASCTB_CT_Label_Mapper/utilities/asctb_data_wrangling.py:40's
dropna/validation steps; this is that step industrialized).

Each expectation is declared as (name, kind, params) and evaluated to ONE
row: (check, metric, threshold, passed). Kinds:

- ``row_count_min``      — table has at least N rows
- ``null_fraction_max``  — fraction of NULLs in a column <= x
- ``unique``             — column has no duplicate values
- ``value_range``        — min/max of a column inside [lo, hi]
- ``fk_orphans``         — child.fk values all exist in parent.pk
  (referential integrity via LEFT ANTI join)

Plan shape (the 100 TB contract): every check compiles to ONE
partial-aggregatable scan aggregate over the checked table (count / null
count / countDistinct / min-max), except fk_orphans which is a left-anti
equi-join counted — the join shuffles on the key it checks, and when the
parent is dimension-sized Spark broadcasts it (AQE decides; no forced
hint). Checks over the SAME table could share a scan via a fused agg; they
are kept one-agg-per-check so a failed check's plan is inspectable in
isolation — the N scans are column-pruned to just the checked column.
The result is a check-count-sized union: bytes, not data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa


@dataclass(frozen=True)
class Check:
    name: str
    kind: str
    table: str
    column: str | None = None
    threshold: float = 0.0
    lo: float | None = None
    hi: float | None = None
    parent_table: str | None = None
    parent_key: str | None = None


def _one(df: DataFrame, name: str, metric, threshold: float, passed) -> DataFrame:
    return df.select(
        F.lit(name).alias("check"),
        F.round(metric.cast("double"), 6).alias("metric"),
        F.round(F.lit(float(threshold)), 6).alias("threshold"),
        passed.cast("int").alias("passed"),
    )


def evaluate_checks(
    tables: dict[str, DataFrame], checks: list[Check]
) -> DataFrame:
    """Evaluate every expectation to one row; union the rows. ``passed``
    is 0/1 (int, engine-neutral). ``value_range`` on an empty table
    passes vacuously (NULL min/max trip neither bound — same in the
    oracle's CASE semantics); ``null_fraction_max`` on an empty table
    FAILS (no data is not clean data)."""
    if not checks:
        raise ValueError("evaluate_checks needs at least one check")
    outs: list[DataFrame] = []
    for c in checks:
        t = tables[c.table]
        if c.kind == "row_count_min":
            agg = t.agg(F.count(F.lit(1)).alias("m"))
            out = _one(
                agg, c.name, F.col("m"), c.threshold, F.col("m") >= c.threshold
            )
        elif c.kind == "null_fraction_max":
            agg = t.agg(
                (
                    F.sum(F.col(c.column).isNull().cast("bigint"))
                    / F.count(F.lit(1))
                ).alias("m")
            )
            # empty table -> m is NULL; fail the check (passed=0, matching
            # the oracle's CASE semantics) instead of passed=NULL, which
            # a `passed == 0` consumer would silently miss
            out = _one(
                agg,
                c.name,
                F.col("m"),
                c.threshold,
                F.coalesce(F.col("m") <= c.threshold, F.lit(False)),
            )
        elif c.kind == "unique":
            agg = t.agg(
                (F.count(c.column) - F.countDistinct(c.column)).alias("m")
            )
            out = _one(agg, c.name, F.col("m"), 0, F.col("m") == 0)
        elif c.kind == "value_range":
            agg = t.agg(F.min(c.column).alias("lo"), F.max(c.column).alias("hi"))
            viol = (
                F.when(F.col("lo") < c.lo, 1).otherwise(0)
                + F.when(F.col("hi") > c.hi, 1).otherwise(0)
            )
            out = _one(agg, c.name, viol, 0, viol == 0)
        elif c.kind == "fk_orphans":
            parent = tables[c.parent_table].select(
                F.col(c.parent_key).alias(c.column)
            ).distinct()
            orphans = t.select(c.column).join(parent, c.column, "left_anti")
            agg = orphans.agg(F.count(F.lit(1)).alias("m"))
            out = _one(agg, c.name, F.col("m"), 0, F.col("m") == 0)
        else:
            raise ValueError(f"unknown check kind: {c.kind}")
        outs.append(out)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


DEFAULT_CHECKS: list[Check] = [
    Check("orders_nonempty", "row_count_min", "orders", threshold=1),
    Check("orderkey_unique", "unique", "orders", column="o_orderkey"),
    Check(
        "custkey_no_orphans",
        "fk_orphans",
        "orders",
        column="o_custkey",
        parent_table="customer",
        parent_key="c_custkey",
    ),
    Check(
        "acctbal_null_frac",
        "null_fraction_max",
        "customer",
        column="c_acctbal",
        threshold=0.01,
    ),
    Check(
        "discount_in_range",
        "value_range",
        "lineitem",
        column="l_discount",
        lo=0.0,
        hi=0.5,
    ),
    Check(
        "doc_text_null_frac",
        "null_fraction_max",
        "documents",
        column="text",
        threshold=0.0,
    ),
]


def sql_evaluate_checks(checks: list[Check] | None = None) -> str:
    """DuckDB replay of ``evaluate_checks`` over the registered views —
    same one-row-per-check UNION ALL, same 0/1 ints and 6dp rounding."""
    checks = checks if checks is not None else DEFAULT_CHECKS
    if not checks:
        raise ValueError("sql_evaluate_checks needs at least one check")
    parts: list[str] = []
    for c in checks:
        # CAST to DOUBLE: a bare numeric literal (and round() of one) is
        # DECIMAL in DuckDB and would hash as '0.00' against Spark's 0.0
        th = f"round(CAST({float(c.threshold)} AS DOUBLE), 6)"
        if c.kind == "row_count_min":
            parts.append(
                f"SELECT '{c.name}' AS check, round(CAST(count(*) AS DOUBLE), 6)"
                f" AS metric, {th} AS threshold,"
                f" CASE WHEN count(*) >= {c.threshold} THEN 1 ELSE 0 END"
                f" AS passed FROM {c.table}"
            )
        elif c.kind == "null_fraction_max":
            m = (
                f"CAST(sum(CASE WHEN {c.column} IS NULL THEN 1 ELSE 0 END)"
                f" AS DOUBLE) / count(*)"
            )
            parts.append(
                f"SELECT '{c.name}' AS check, round({m}, 6) AS metric,"
                f" {th} AS threshold,"
                f" CASE WHEN {m} <= {c.threshold} THEN 1 ELSE 0 END AS passed"
                f" FROM {c.table}"
            )
        elif c.kind == "unique":
            m = f"count({c.column}) - count(DISTINCT {c.column})"
            parts.append(
                f"SELECT '{c.name}' AS check, round(CAST({m} AS DOUBLE), 6)"
                f" AS metric, round(CAST(0.0 AS DOUBLE), 6) AS threshold,"
                f" CASE WHEN {m} = 0 THEN 1 ELSE 0 END AS passed"
                f" FROM {c.table}"
            )
        elif c.kind == "value_range":
            m = (
                f"(CASE WHEN min({c.column}) < {c.lo} THEN 1 ELSE 0 END"
                f" + CASE WHEN max({c.column}) > {c.hi} THEN 1 ELSE 0 END)"
            )
            parts.append(
                f"SELECT '{c.name}' AS check, round(CAST({m} AS DOUBLE), 6)"
                f" AS metric, round(CAST(0.0 AS DOUBLE), 6) AS threshold,"
                f" CASE WHEN {m} = 0 THEN 1 ELSE 0 END AS passed"
                f" FROM {c.table}"
            )
        elif c.kind == "fk_orphans":
            m = (
                f"(SELECT count(*) FROM {c.table} t WHERE NOT EXISTS"
                f" (SELECT 1 FROM {c.parent_table} p"
                f" WHERE p.{c.parent_key} = t.{c.column}))"
            )
            parts.append(
                f"SELECT '{c.name}' AS check, round(CAST({m} AS DOUBLE), 6)"
                f" AS metric, round(CAST(0.0 AS DOUBLE), 6) AS threshold,"
                f" CASE WHEN {m} = 0 THEN 1 ELSE 0 END AS passed"
            )
        else:
            raise ValueError(f"unknown check kind: {c.kind}")
    return " UNION ALL ".join(parts)


# --- per-group size contracts --------------------------------------------


class GroupBoundExceeded(ValueError):
    """A per-group row-count contract was violated (see
    ``assert_group_bound``)."""


def fetch_bounded(
    df: DataFrame, cols: list[str], max_rows: int, label: str | None = None
) -> pa.Table | None:
    """The bounded driver read behind every driver-side fold (the graph
    and Markov folds, ``dedup.duplicate_groups``): ``cols`` of ``df``
    fetched as Arrow with ``limit(max_rows + 1)`` in ONE job — the limit
    is the guard, so the (possibly fact-scale) upstream plan runs once,
    not once to count and again to collect. Returns the table while it
    holds at most ``max_rows`` rows; past the bound it returns None, or
    raises ``GroupBoundExceeded`` when ``label`` names a caller that has
    no distributed path. Memory exposure is ``max_rows + 1`` rows."""
    table = df.select(*cols).limit(max_rows + 1).toArrow()
    if table.num_rows <= max_rows:
        return table
    if label is None:
        return None
    raise GroupBoundExceeded(
        f"{label}: > {max_rows} rows; the fold runs on the driver — "
        "pre-aggregate the input to dimension grain first"
    )


def assert_group_bound(
    df: DataFrame,
    keys: list[str],
    max_rows: int,
    label: str | None = None,
    sample: int = 5,
) -> DataFrame:
    """Enforce a per-group size contract: raise ``GroupBoundExceeded`` if
    any group of ``keys`` holds more than ``max_rows`` rows; otherwise
    return ``df`` unchanged for chaining.

    This is the DQ gate in front of collect_list-shaped operators whose
    scale posture DEPENDS on bounded groups (``funnel.user_journeys``
    packs a (user, day) cell into one string; ``timeseries.ewma_by_key``
    folds a (key, bucket) cell into one array): the bound holds by
    construction for sane data, but nothing upstream guarantees a bot
    account or a duplicated ingest didn't produce a million-row cell —
    this turns that silent executor OOM into a named, actionable error.

    Plan shape: one extra job — a map-side-combinable count per group,
    filtered to offenders, top-``sample`` collected (bytes on the
    driver). Opt-in by design (the callers expose it behind a flag)
    because it re-scans the input once."""
    cnt = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    offenders = (
        cnt.filter(F.col("n_rows") > int(max_rows))
        .orderBy(F.desc("n_rows"))
        .limit(sample)
        .collect()
    )
    if offenders:
        worst = "; ".join(
            "(" + ", ".join(f"{k}={r[k]}" for k in keys) + f") n={r['n_rows']}"
            for r in offenders
        )
        raise GroupBoundExceeded(
            f"{label or 'group bound'}: group(s) of ({', '.join(keys)}) "
            f"exceed {max_rows} rows — worst {sample}: {worst}"
        )
    return df


def fk_audit(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    relation: str,
) -> DataFrame:
    """Referential-integrity audit for one FK edge: child rows, orphan
    rows (child key absent from the parent), NULL keys, and distinct
    orphan keys — the warehouse-contract check that runs before any
    join-based metric is trusted (an orphan silently drops from every
    inner join that consumes the edge).

    Plan: one LEFT ANTI join on the key (broadcast when the parent is
    dimension-sized is Catalyst's call) + narrow counts. Returns one
    row (relation, child_rows, null_keys, orphan_rows, orphan_keys)."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    keyed = pooled_persist(
        child.select(F.col(child_key).alias("_k"))
    )
    totals = keyed.agg(
        F.count(F.lit(1)).alias("child_rows"),
        F.sum(F.col("_k").isNull().cast("long")).alias("null_keys"),
    )
    orphans = (
        keyed.filter(F.col("_k").isNotNull())
        .join(
            parent.select(F.col(parent_key).alias("_pk")),
            F.col("_k") == F.col("_pk"),
            "left_anti",
        )
        .agg(
            F.count(F.lit(1)).alias("orphan_rows"),
            F.count_distinct("_k").alias("orphan_keys"),
        )
    )
    return totals.crossJoin(orphans).select(
        F.lit(relation).alias("relation"),
        "child_rows",
        "null_keys",
        "orphan_rows",
        "orphan_keys",
    )


def fk_audit_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Star-schema referential-integrity report: every FK edge of the
    TPC-H-ish schema audited (:func:`fk_audit`), one row per edge —
    the one-glance answer to "can I trust inner joins on this
    snapshot". Edges: lineitem→orders/part/supplier, orders→customer,
    customer/supplier→nation, nation→region."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for c_tab, c_key, p_tab, p_key in edges:
        row = fk_audit(
            tables[c_tab],
            tables[p_tab],
            c_key,
            p_key,
            f"{c_tab}.{c_key}->{p_tab}.{p_key}",
        )
        out = row if out is None else out.unionAll(row)
    return out


def sql_fk_audit_report() -> str:
    """DuckDB replay of :func:`fk_audit_report` — same edges, same
    anti-join census per edge."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for c_tab, c_key, p_tab, p_key in edges:
        parts.append(f"""
    SELECT '{c_tab}.{c_key}->{p_tab}.{p_key}' AS relation,
        (SELECT count(*) FROM {c_tab}) AS child_rows,
        (SELECT count(*) FROM {c_tab} WHERE {c_key} IS NULL)
            AS null_keys,
        (SELECT count(*) FROM {c_tab}
         WHERE {c_key} IS NOT NULL
           AND {c_key} NOT IN (SELECT {p_key} FROM {p_tab}
                               WHERE {p_key} IS NOT NULL))
            AS orphan_rows,
        (SELECT count(DISTINCT {c_key}) FROM {c_tab}
         WHERE {c_key} IS NOT NULL
           AND {c_key} NOT IN (SELECT {p_key} FROM {p_tab}
                               WHERE {p_key} IS NOT NULL))
            AS orphan_keys""")
    return "\nUNION ALL\n".join(parts)
