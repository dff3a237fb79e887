"""Graph analytics over edge lists aggregated FROM fact tables —
degree distributions, triangle counting, and PageRank.

Not in the reference; first-class large-pipeline operators (co-purchase
/ co-occurrence graphs, link analysis over citation or trade networks).
The scale posture is the same for all three: the ONE pass over the
100 TB fact table is the edge aggregation (a single groupBy shuffle
producing a far smaller edge list); every graph computation then runs
on the aggregated edges, never the raw facts.

- ``copurchase_edges``: distinct item pairs co-occurring in an order,
  weighted by co-order count — the classic market-basket projection.
  ``min_count`` thresholds out the long tail of one-off pairs (the
  standard densification guard: raw pair cardinality is Σ C(k_i, 2)
  over baskets, the threshold cuts it by orders of magnitude).
- ``degree_distribution``: per-node degree then a degree histogram —
  two dimension-sized aggregates.
- ``triangle_count``: wedges + triangles on an ORIENTED edge list
  (src < dst), so each triangle is counted exactly once as
  a<b<c. Orientation by id is exact and cheap; for power-law graphs
  the degree-orientation refinement (low-degree endpoint first) bounds
  the wedge join fan-out by the arboricity — stated scale path, same
  output.
- ``pagerank``: damped PageRank on a weighted digraph. The registry
  runs it on the nation-level trade graph (25 nodes — aggregated from
  lineitem x orders x customer x supplier), where the edge list is
  dimension-sized: one bounded collect after the one fact shuffle,
  then the iterations fold on the driver (``LOCAL_EDGE_ROWS``).
  Dangling mass is NOT redistributed (simplified PageRank, the common
  SQL formulation) — stated, and identical on both engines; ranks
  therefore sum to < 1 when sinks exist.

Oracle SQL mirrors: the PageRank iteration is UNROLLED into K chained
CTEs (standard SQL forbids aggregates in a recursive CTE's recursive
term), with the same recurrence the driver fold runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.dq import fetch_bounded


# ---------------------------------------------------------------------------
# edge construction
# ---------------------------------------------------------------------------

def copurchase_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 2,
    max_basket_size: int | None = None,
    memberships: DataFrame | None = None,
) -> DataFrame:
    """Undirected co-purchase edge list: (src, dst, w) with src < dst,
    w = number of orders containing BOTH items, thresholded to
    ``min_count``. ``memberships`` forwards the census's shared-input
    seam (a pre-built, persisted ``linkage.group_memberships`` frame)
    so graph-family composites pay the basket aggregate once.

    The pair census is :func:`linkage.co_occurrence_pairs` (the shared
    bipartite-membership primitive: one group-keyed collect, in-row
    codegen HOF pairing, one pair count — two Exchanges, measured
    2.9 s vs the 5.6 s single-partition naive plan at sf0.1; NULL
    order keys filtered to match join semantics) with the market-
    basket column names. ``max_basket_size`` forwards the census's
    degree cap — the standard guard for retail-scale baskets
    (unnecessary in TPC-H, where baskets are ≤7 items)."""
    from asctb_ct_label_mapper_spark.operators.linkage import (
        co_occurrence_pairs,
    )

    return co_occurrence_pairs(
        lineitem,
        order_col,
        item_col,
        max_group_degree=max_basket_size,
        min_shared=min_count,
        memberships=memberships,
    ).select(
        F.col("a1").alias("src"),
        F.col("a2").alias("dst"),
        F.col("n_shared").alias("w"),
    )


def sql_copurchase_edges(
    table: str = "lineitem",
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 2,
    max_basket_size: int | None = None,
) -> str:
    """DuckDB mirror of ``copurchase_edges`` (as a CTE body: edges).
    The li CTE filters NULL order AND item keys: NULL orders never
    form a basket (engine parity — and keeping them would inflate
    association_rules' per-item denominators with rows that can never
    pair), NULL items never pair; the optional basket cap counts
    distinct non-NULL items, matching the Spark census."""
    cap = ""
    src = "li"
    if max_basket_size is not None:
        cap = f""",
    bdeg AS (SELECT o, count(*) AS d FROM li GROUP BY o),
    lic AS (SELECT li.o, li.i FROM li JOIN bdeg USING (o)
            WHERE bdeg.d <= {max_basket_size})"""
        src = "lic"
    return f"""
    li AS (
        SELECT DISTINCT {order_col} AS o, {item_col} AS i FROM {table}
        WHERE {order_col} IS NOT NULL AND {item_col} IS NOT NULL
    ){cap},
    edges AS (
        SELECT a.i AS src, b.i AS dst, count(*) AS w
        FROM {src} a JOIN {src} b ON a.o = b.o AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= {min_count}
    )
    """


# ---------------------------------------------------------------------------
# degree distribution
# ---------------------------------------------------------------------------

def degree_distribution(edges: DataFrame) -> DataFrame:
    """Histogram of undirected node degrees: (degree, n_nodes). Each
    edge contributes one degree to each endpoint; both aggregates run
    on the (already aggregated) edge list.

    The edge plan is pooled-persisted: both unionAll branches read it,
    and without the persist Spark re-runs the upstream fact-table pair
    aggregate once per branch."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    edges = pooled_persist(edges)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def sql_degree_distribution() -> str:
    """DuckDB mirror (expects an ``edges`` CTE in scope)."""
    return """
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges
        ) GROUP BY node
    )
    SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
    """


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------

def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle census on an oriented (src < dst) edge list:
    one row (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering) with clustering = 3·triangles / wedges
    (NULL when wedge-free — try_divide, the ANSI-session guard).

    Wedges are counted on UNDIRECTED degrees (Σ C(deg, 2)); triangles
    enumerate a<b<c once via the two-hop oriented join. The wedge join
    (ab)x(bc) fans out by oriented out-degree — id orientation here,
    degree orientation (smaller-degree endpoint first) as the stated
    power-law scale path.

    The edge plan is pooled-persisted: SIX consumers reference it (the
    three triangle legs, both degree branches, the edge count) —
    unpersisted, the upstream fact-table pair aggregate would run six
    times."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    e = pooled_persist(edges.select("src", "dst"))
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, ["b"]).join(ac, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2))
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.try_divide(
                    F.lit(3.0) * F.col("n_triangles"),
                    F.col("n_wedges").cast("double"),
                ),
                6,
            ).alias("global_clustering"),
        )
    )


def sql_triangle_count() -> str:
    """DuckDB mirror (expects an ``edges`` CTE in scope)."""
    return """
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges
        ) GROUP BY node
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM edges ab
        JOIN edges bc ON ab.dst = bc.src
        JOIN edges ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    st AS (
        SELECT count(*) AS n_nodes,
            CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
        FROM deg
    ),
    ne AS (SELECT count(*) AS n_edges FROM edges)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
        round(3.0 * n_triangles / CAST(n_wedges AS DOUBLE), 6)
            AS global_clustering
    FROM st, ne, tri
    """


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

# edge lists past this many rows raise GroupBoundExceeded instead of
# folding on the driver (PageRank, label propagation, HITS, k-core,
# harmonic closeness, eigenvector): pre-aggregate to dimension grain first
LOCAL_EDGE_ROWS = 2_000_000


def pagerank(
    edges: DataFrame,
    n_nodes: int,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Damped PageRank on a weighted digraph given as (src, dst, w).
    ``n_nodes`` is passed in (the caller knows the node-universe size —
    for the registry's nation graph it is a dimension count) rather
    than counted from the edges. Returns (node, pr) rounded 6dp.

    Simplified formulation (no dangling-mass redistribution):
        r₀ = 1/N;  r_{t+1}(j) = (1−d)/N + d·Σ_i r_t(i)·w_ij/outw_i

    The AGGREGATED edge list is fetched in one job under
    :func:`dq.fetch_bounded` (``LOCAL_EDGE_ROWS``; the registry's
    trade graph is ≤625 rows) and the iterations fold on the driver,
    like the centroid-training precedent: one fact-table pass, zero
    per-iteration scheduling. The arithmetic matches the oracle:
    double precision, same recurrence; the 6dp rounding is delegated
    to F.round on the result frame (Python round() is banker's
    half-even, F.round/DuckDB are half away from zero — the repo's
    standing rounding trap)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    # sorted for run-to-run determinism: collect() partition order is
    # arbitrary and float accumulation order matters at the last ulp
    rows = sorted(
        ((r["src"], r["dst"], float(r["w"]))
         for r in fetch_bounded(
             edges, ["src", "dst", "w"], LOCAL_EDGE_ROWS, "pagerank"
         ).to_pylist()),
        key=lambda t: (t[0], t[1]),
    )
    nodes = sorted({t[0] for t in rows} | {t[1] for t in rows})
    idx = {n: i for i, n in enumerate(nodes)}
    n_act = len(nodes)
    outw: dict = {}
    for s, _, w in rows:
        outw[s] = outw.get(s, 0.0) + w
    trips = [(idx[s], idx[t], w / outw[s]) for s, t, w in rows]
    base = (1.0 - damping) / n_nodes
    rank = [1.0 / n_nodes] * n_act
    for _ in range(iters):
        nxt = [base] * n_act
        for s, t, wn in trips:
            nxt[t] += damping * rank[s] * wn
        rank = nxt
    spark = edges.sparkSession
    schema = StructType(
        [
            StructField("node", edges.schema["src"].dataType, True),
            StructField("pr", DoubleType(), True),
        ]
    )
    raw = spark.createDataFrame(
        [(n, rank[idx[n]]) for n in nodes], schema=schema
    )
    return raw.select("node", F.round("pr", 6).alias("pr"))


def sql_pagerank(
    n_nodes: int,
    damping: float = 0.85,
    iters: int = 10,
) -> str:
    """DuckDB mirror of ``pagerank`` — the iteration UNROLLED into
    ``iters`` chained CTEs (expects an ``edges(src, dst, w)`` CTE in
    scope), the same recurrence :func:`pagerank` folds on the driver."""
    base = (1.0 - damping) / n_nodes
    parts = [
        """
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
        )
    ),
    norm AS (
        SELECT e.src, e.dst,
            CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS wn
        FROM edges e JOIN (
            SELECT src, sum(w) AS ow FROM edges GROUP BY src
        ) o ON e.src = o.src
    ),
    r0 AS (SELECT node, CAST({r0} AS DOUBLE) AS r FROM nodes)
        """.format(r0=repr(1.0 / n_nodes))
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    r{t} AS (
        SELECT nodes.node,
            CAST({base!r} AS DOUBLE)
            + CAST({damping!r} AS DOUBLE) * coalesce(c.s, 0.0) AS r
        FROM nodes LEFT JOIN (
            SELECT norm.dst, sum(norm.wn * p.r) AS s
            FROM norm JOIN r{t - 1} p ON norm.src = p.node
            GROUP BY norm.dst
        ) c ON nodes.node = c.dst
    )""")
    return (
        ",".join(parts)
        + f"\n    SELECT node, round(r, 6) AS pr FROM r{iters}"
    )


def _shared_census(
    baskets: DataFrame,
    order_col: str,
    item_col: str,
    min_count: int,
    memberships: DataFrame | None,
):
    """The graph family's shared build: the persisted
    :func:`linkage.group_memberships` frame (built here unless the
    caller supplies one — the r10 shared-census seam), the per-item
    membership counts derived from its cached arrays (exploding the
    distinct per-group item arrays reproduces exactly the distinct
    (order, item) rows the old two-pass plan built with a separate
    distinct shuffle; collect_set drops NULL items, group_memberships
    filters NULL groups — the r10 NULL-denominator parity, mirrored in
    sql_copurchase_edges' li CTE), and the persisted edge-grain pair
    census. Returns (memberships, item_n, edges)."""
    from asctb_ct_label_mapper_spark.operators.linkage import (
        group_memberships,
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    if memberships is None:
        memberships = pooled_persist(
            group_memberships(
                baskets.filter(F.col(item_col).isNotNull()),
                order_col,
                item_col,
            )
        )
    # persisted: consumers build separate broadcast-exchange jobs
    item_n = pooled_persist(
        memberships.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    edges = pooled_persist(
        copurchase_edges(
            baskets,
            order_col,
            item_col,
            min_count=min_count,
            memberships=memberships,
        )
    )
    return memberships, item_n, edges


def association_rules(
    baskets: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 3,
    min_confidence: float = 0.0,
    memberships: DataFrame | None = None,
) -> DataFrame:
    """Market-basket association rules a→b over co-purchase pairs:
    support count, confidence = n_ab/n_a, lift = n_ab·N/(n_a·n_b) —
    the classic Agrawal-Srikant readout, restricted to size-2 itemsets
    (the co-purchase graph's directional completion).

    Plan (r11 — one fact aggregate): the persisted
    :func:`linkage.group_memberships` frame (built here unless the
    caller supplies it — the r10 shared-census seam) IS the only
    fact-table pass; every denominator derives from it. Exploding the
    distinct per-group item arrays reproduces exactly the distinct
    (o, i) membership rows the earlier two-pass plan built with a
    separate distinct shuffle (collect_set drops NULL items;
    group_memberships filters NULL groups — the r10 NULL-denominator
    parity, mirrored in sql_copurchase_edges' li CTE), and a group
    whose items all were NULL has an empty array, so size(items) > 0
    replays the n_baskets count. The pair census (the dominant stage:
    in-row HOF pair explosion + one pair-count Exchange) reads the
    same cached frame, and the edge-grain table is persisted so the
    direction union runs it ONCE (r10 verdict #1 — the duplicated
    Generate subtree). Both rule directions then close over two
    broadcast joins against the dimension-sized item-count table.
    Counts stay integers until the final exact-product double
    divisions (no float accumulation); 6dp rounding on both
    engines."""
    memberships, item_n, edges = _shared_census(
        baskets, order_col, item_col, min_count, memberships
    )
    totals = memberships.filter(F.size("items") > 0).agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    both = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "w"
    ).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), "w")
    )
    ant = item_n.select(F.col("i").alias("a"), F.col("n_item").alias("n_a"))
    con = item_n.select(F.col("i").alias("b"), F.col("n_item").alias("n_b"))
    # the threshold compares the UNROUNDED confidence (as the SQL
    # mirror's WHERE does) — filtering on the rounded value would
    # disagree with the oracle at the rounding boundary
    return (
        both.join(F.broadcast(ant), ["a"])
        .join(F.broadcast(con), ["b"])
        .crossJoin(F.broadcast(totals))
        .filter((F.col("w") / F.col("n_a")) >= min_confidence)
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("w").alias("support_n"),
            F.round(F.col("w") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                (F.col("w") * F.col("n_baskets"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def sql_association_rules(
    table: str = "lineitem",
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 3,
    min_confidence: float = 0.0,
) -> str:
    """DuckDB replay of ``association_rules`` (same pair census, same
    exact-integer-product divisions)."""
    return f"""
    WITH {sql_copurchase_edges(table, order_col, item_col, min_count)},
    item_n AS (SELECT i, count(*) AS n_item FROM li GROUP BY i),
    totals AS (SELECT count(DISTINCT o) AS n_baskets FROM li),
    both_dirs AS (
        SELECT src AS a, dst AS b, w FROM edges
        UNION ALL SELECT dst AS a, src AS b, w FROM edges
    )
    SELECT bd.a AS antecedent, bd.b AS consequent, bd.w AS support_n,
        round(CAST(bd.w AS DOUBLE) / na.n_item, 6) AS confidence,
        round(CAST(bd.w * t.n_baskets AS DOUBLE)
              / CAST(na.n_item * nb.n_item AS DOUBLE), 6) AS lift
    FROM both_dirs bd
    JOIN item_n na ON bd.a = na.i
    JOIN item_n nb ON bd.b = nb.i
    CROSS JOIN totals t
    WHERE CAST(bd.w AS DOUBLE) / na.n_item
          >= CAST({min_confidence!r} AS DOUBLE)
    """


def nation_trade_edges(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Nation-level trade digraph: supplier nation → customer nation,
    weighted by summed revenue (the q7 join tree rolled all the way up
    to the 25-node nation grain). The one fact-table pass behind the
    registry's PageRank query."""
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    return (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(sn), supplier["s_nationkey"] == sn["s_nk"])
        .join(F.broadcast(cn), customer["c_nationkey"] == cn["c_nk"])
        .groupBy("src", "dst")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("w")
        )
    )


def sql_nation_trade_edges() -> str:
    """DuckDB mirror of ``nation_trade_edges`` (as a CTE body:
    edges)."""
    return """
    edges AS (
        SELECT sn.n_name AS src, cn.n_name AS dst,
            sum(l_extendedprice * (1 - l_discount)) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        GROUP BY 1, 2
    )
    """


# ---------------------------------------------------------------------------
# graph-family composite: one census, every readout
# ---------------------------------------------------------------------------

def graph_family_report(
    baskets: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 2,
    rule_min_confidence: float = 0.25,
) -> DataFrame:
    """Every graph-family readout from ONE shared pair census: degree
    histogram, node/edge/wedge/triangle counts, global clustering
    denominators, and the association-rule count above a confidence
    floor — melted to a (family, k, v) long table.

    This is the shared-census seam (r10 verdict #6) exercised
    end-to-end: ``linkage.group_memberships`` runs ONCE (the fact-table
    collect_set aggregate — the family's dominant stage), is persisted,
    and feeds the pair census, the rule denominators, and the basket
    total; the edge list is built once at the SHARED ``min_count`` and
    persisted for its ~10 downstream consumers. Standalone, the three
    registry graph queries pay that census once each; composed here the
    whole family costs one census plus cheap edge-grain probes.

    Note the one semantic delta vs the standalone queries: the rules
    share the report-wide ``min_count`` support floor instead of
    ``assoc_rules_parts``' 3 (one census ⇒ one threshold; rules with
    support in [min_count, 3) appear here and not there)."""
    from asctb_ct_label_mapper_spark.operators.linkage import (
        group_memberships,
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    mem = pooled_persist(
        group_memberships(
            baskets.filter(F.col(item_col).isNotNull()),
            order_col,
            item_col,
        )
    )
    edges = pooled_persist(
        copurchase_edges(
            baskets, order_col, item_col,
            min_count=min_count, memberships=mem,
        )
    )
    deg_hist = degree_distribution(edges)
    tri = triangle_count(edges)
    n_rules = association_rules(
        baskets,
        order_col,
        item_col,
        min_count=min_count,
        min_confidence=rule_min_confidence,
        memberships=mem,
    ).agg(F.count(F.lit(1)).alias("n_rules"))

    def _scalar(df: DataFrame, col: str) -> DataFrame:
        return df.select(
            F.lit(col).alias("family"),
            F.lit(0).cast("long").alias("k"),
            F.col(col).cast("long").alias("v"),
        )

    out = deg_hist.select(
        F.lit("degree").alias("family"),
        F.col("degree").cast("long").alias("k"),
        F.col("n_nodes").cast("long").alias("v"),
    )
    # Melt the four triangle-census scalars IN-PLAN (posexplode over one
    # array) instead of four unionAll branches each embedding the full
    # ``tri`` subtree: unpersisted, the wedge/triangle two-hop join ran
    # FOUR times per action (r14, guide §2.4 — duplicated subtrees are
    # repeated shuffles). Same rows, same types: the census computes
    # once, the melt is a 4-row Generate.
    tri_cols = ("n_nodes", "n_edges", "n_wedges", "n_triangles")
    tri_melted = tri.select(
        F.posexplode(
            F.array(*[F.col(c).cast("long") for c in tri_cols])
        ).alias("_i", "v")
    ).select(
        F.element_at(
            F.array(*[F.lit(c) for c in tri_cols]), F.col("_i") + 1
        ).alias("family"),
        F.lit(0).cast("long").alias("k"),
        "v",
    )
    return out.unionAll(tri_melted).unionAll(_scalar(n_rules, "n_rules"))


def sql_graph_family_report(
    table: str = "lineitem",
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 2,
    rule_min_confidence: float = 0.25,
) -> str:
    """DuckDB replay of ``graph_family_report`` — one shared edges CTE
    feeding the degree, triangle, and rule readouts."""
    return f"""
    WITH {sql_copurchase_edges(table, order_col, item_col, min_count)},
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges
        ) GROUP BY node
    ),
    dh AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM edges ab
        JOIN edges bc ON ab.dst = bc.src
        JOIN edges ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    st AS (
        SELECT count(*) AS n_nodes,
            CAST(sum(degree * (degree - 1)) / 2 AS BIGINT) AS n_wedges
        FROM deg
    ),
    ne AS (SELECT count(*) AS n_edges FROM edges),
    item_n AS (SELECT i, count(*) AS n_item FROM li GROUP BY i),
    rules AS (
        SELECT count(*) AS n_rules FROM (
            SELECT src AS a, w FROM edges
            UNION ALL SELECT dst AS a, w FROM edges
        ) bd
        JOIN item_n na ON bd.a = na.i
        WHERE CAST(bd.w AS DOUBLE) / na.n_item
              >= CAST({rule_min_confidence!r} AS DOUBLE)
    )
    SELECT 'degree' AS family, CAST(degree AS BIGINT) AS k,
        CAST(n_nodes AS BIGINT) AS v FROM dh
    UNION ALL SELECT 'n_nodes', 0, CAST(n_nodes AS BIGINT) FROM st
    UNION ALL SELECT 'n_edges', 0, CAST(n_edges AS BIGINT) FROM ne
    UNION ALL SELECT 'n_wedges', 0, n_wedges FROM st
    UNION ALL SELECT 'n_triangles', 0, CAST(n_triangles AS BIGINT)
        FROM tri
    UNION ALL SELECT 'n_rules', 0, CAST(n_rules AS BIGINT) FROM rules
    """


def sql_pagerank_dynamic(
    damping: float = 0.85,
    iters: int = 10,
) -> str:
    """``sql_pagerank`` with a DATA-DEPENDENT node count: expects
    ``edges(src, dst, w)`` AND ``nodes(node)`` CTEs in scope and
    derives 1/N in-query (``pn``), for graphs whose size the oracle
    generator cannot know at registration time (word graphs, id
    graphs). Same unrolled recurrence, same arithmetic."""
    parts = [
        f"""
    pn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    norm AS (
        SELECT e.src, e.dst,
            CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS wn
        FROM edges e JOIN (
            SELECT src, sum(w) AS ow FROM edges GROUP BY src
        ) o ON e.src = o.src
    ),
    r0 AS (SELECT node, 1.0 / pn.n AS r FROM nodes CROSS JOIN pn)
        """
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    r{t} AS (
        SELECT nodes.node,
            (1.0 - CAST({damping!r} AS DOUBLE)) / pn.n
            + CAST({damping!r} AS DOUBLE) * coalesce(c.s, 0.0) AS r
        FROM nodes CROSS JOIN pn LEFT JOIN (
            SELECT norm.dst, sum(norm.wn * p.r) AS s
            FROM norm JOIN r{t - 1} p ON norm.src = p.node
            GROUP BY norm.dst
        ) c ON nodes.node = c.dst
    )""")
    return (
        ",".join(parts)
        + f"\n    SELECT node, round(r, 6) AS pr FROM r{iters}"
    )


# ---------------------------------------------------------------------------
# item-item collaborative filtering
# ---------------------------------------------------------------------------

def item_cf_topk(
    baskets: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 2,
    top_k: int = 3,
    memberships: DataFrame | None = None,
) -> DataFrame:
    """Item-item collaborative filtering (the Amazon-style recommender
    primitive, Linden et al. 2003): cosine similarity on co-occurrence
    counts, sim(i,j) = n_ij / √(n_i·n_j), top ``top_k`` neighbors per
    item. Returns (item, neighbor, cooc, cosine, rnk).

    Plan: the SHARED pair census (one collect_set aggregate + HOF pair
    explode — sum_g C(deg_g,2) candidates, never |items|²), persisted
    edge table read by both union directions, broadcast item-count
    joins, then a PER-ITEM rank window (parallel across items — no
    global sort). Ordering compares the UNROUNDED cosine (identical
    integer-derived doubles on both engines), ties broken by neighbor
    id; the output rounds 6dp."""
    _, item_n, edges = _shared_census(
        baskets, order_col, item_col, min_count, memberships
    )
    both = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "w"
    ).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), "w")
    )
    ant = item_n.select(F.col("i").alias("a"), F.col("n_item").alias("n_a"))
    con = item_n.select(F.col("i").alias("b"), F.col("n_item").alias("n_b"))
    from pyspark.sql import Window

    cos = F.col("w").cast("double") / F.sqrt(
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    w_rank = Window.partitionBy("a").orderBy(
        cos.desc(), F.col("b").asc()
    )
    return (
        both.join(F.broadcast(ant), ["a"])
        .join(F.broadcast(con), ["b"])
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("a").alias("item"),
            F.col("b").alias("neighbor"),
            F.col("w").alias("cooc"),
            F.round(cos, 6).alias("cosine"),
            "rnk",
        )
    )


def sql_item_cf_topk(
    table: str = "lineitem",
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_count: int = 2,
    top_k: int = 3,
) -> str:
    """DuckDB replay of ``item_cf_topk`` (same census, same unrounded
    cosine ordering, same per-item rank cut)."""
    return f"""
    WITH {sql_copurchase_edges(table, order_col, item_col, min_count)},
    item_n AS (SELECT i, count(*) AS n_item FROM li GROUP BY i),
    both_dirs AS (
        SELECT src AS a, dst AS b, w FROM edges
        UNION ALL SELECT dst AS a, src AS b, w FROM edges
    ),
    scored AS (
        SELECT bd.a, bd.b, bd.w,
            CAST(bd.w AS DOUBLE)
            / sqrt(CAST(na.n_item AS DOUBLE) * CAST(nb.n_item AS DOUBLE))
                AS cos,
            row_number() OVER (
                PARTITION BY bd.a
                ORDER BY CAST(bd.w AS DOUBLE)
                    / sqrt(CAST(na.n_item AS DOUBLE)
                           * CAST(nb.n_item AS DOUBLE)) DESC, bd.b
            ) AS rnk
        FROM both_dirs bd
        JOIN item_n na ON bd.a = na.i
        JOIN item_n nb ON bd.b = nb.i
    )
    SELECT a AS item, b AS neighbor, w AS cooc,
        round(cos, 6) AS cosine, CAST(rnk AS INT) AS rnk
    FROM scored WHERE rnk <= {int(top_k)}
    """


def nation_trade_edges_count(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """:func:`nation_trade_edges` with COUNT weights instead of revenue
    — same q7 join tree, but the edge weight is the number of trade
    lines. Count weights sum EXACTLY in doubles (< 2^53), which the
    label-propagation argmax needs for cross-engine determinism:
    revenue-float partial sums can differ in the last ulp between
    engines, and an argmax over near-tied scores would then diverge
    where PageRank's rounded ranks do not."""
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    return (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(sn), supplier["s_nationkey"] == sn["s_nk"])
        .join(F.broadcast(cn), customer["c_nationkey"] == cn["c_nk"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


def sql_nation_trade_edges_count() -> str:
    """DuckDB mirror of ``nation_trade_edges_count`` (CTE body:
    edges)."""
    return """
    edges AS (
        SELECT sn.n_name AS src, cn.n_name AS dst,
            CAST(count(*) AS DOUBLE) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        GROUP BY 1, 2
    )
    """


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, made deterministic) on a weighted graph given as
    (src, dst, w); the graph is treated as UNDIRECTED (edges are
    symmetrized internally). Every node starts labeled with itself;
    each iteration every node adopts the label carrying the largest
    summed incident weight among its neighbors, ties broken by MIN
    label — the deterministic variant (classic LPA breaks ties
    randomly, which can never hash-match an oracle). Isolated nodes
    keep their own label. Returns (node, community).

    KNOWN SYNC-LPA ARTIFACT: on bipartite structures (an isolated
    edge pair, a star) synchronous updates can OSCILLATE — the pair
    swaps labels every iteration instead of converging. That is
    inherent to the synchronous variant (Raghavan et al. §3 suggest
    asynchronous updates precisely for this), and the deterministic
    oracle replays the same oscillation; callers clustering graphs
    with triangle-free components should treat the result as the
    state after exactly ``iters`` steps, not a fixed point.

    DETERMINISM CONTRACT: weights must be exact-in-double (counts /
    fixed-point), because the argmax compares raw score sums — float
    weights summed in engine-specific partial order could flip a
    near-tie. :func:`nation_trade_edges_count` exists for exactly
    this.

    The one-way edge list is fetched in one job under
    :func:`dq.fetch_bounded` (``LOCAL_EDGE_ROWS``; dimension-grain
    graphs only), the reverse edges are added on the driver, and the
    iterations fold in Python, accumulating in sorted edge order (the
    :func:`pagerank` precedent); with the exact-in-double weight
    contract the sums are order-free anyway.
    """
    from pyspark.sql.types import StructField, StructType

    one_way = [
        (r["src"], r["dst"], float(r["w"]))
        for r in fetch_bounded(
            edges, ["src", "dst", "w"], LOCAL_EDGE_ROWS, "label_propagation"
        ).to_pylist()
    ]
    rows = sorted(
        one_way + [(d, s, w) for s, d, w in one_way],
        key=lambda t: (t[0], t[1]),
    )
    nodes = sorted({t[0] for t in rows})
    lab = {n: n for n in nodes}
    for _ in range(iters):
        scores: dict = {}
        for s, d, w in rows:
            key = (s, lab[d])
            scores[key] = scores.get(key, 0.0) + w
        nxt = dict(lab)
        best: dict = {}
        for (n, cand), sc in sorted(scores.items()):
            cur = best.get(n)
            if cur is None or sc > cur[0] or (sc == cur[0] and cand < cur[1]):
                best[n] = (sc, cand)
        for n, (_, cand) in best.items():
            nxt[n] = cand
        lab = nxt
    ntype = edges.schema["src"].dataType
    schema = StructType(
        [StructField("node", ntype, True), StructField("community", ntype, True)]
    )
    return edges.sparkSession.createDataFrame(
        [(n, lab[n]) for n in nodes], schema=schema
    )


def sql_label_propagation(iters: int = 4) -> str:
    """DuckDB mirror of ``label_propagation`` — iterations UNROLLED
    into chained CTEs (expects an ``edges(src, dst, w)`` CTE in scope),
    same symmetrization, same (score DESC, label ASC) argmax."""
    parts = [
        """
    sym AS (
        SELECT src, dst, w FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM edges
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym)
        """
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    l{t} AS (
        SELECT p.node, coalesce(n._nl, p.lab) AS lab
        FROM l{t - 1} p LEFT JOIN (
            SELECT node, lab AS _nl FROM (
                SELECT s.src AS node, q.lab, sum(s.w) AS _s,
                    row_number() OVER (
                        PARTITION BY s.src
                        ORDER BY sum(s.w) DESC, q.lab
                    ) AS _rn
                FROM sym s JOIN l{t - 1} q ON s.dst = q.node
                GROUP BY s.src, q.lab
            ) WHERE _rn = 1
        ) n ON p.node = n.node
    )""")
    return (
        ",".join(parts)
        + f"\n    SELECT node, lab AS community FROM l{iters}"
    )


# ---------------------------------------------------------------------------
# r11c: HITS, k-core, assortativity, neighbor-set similarity
# ---------------------------------------------------------------------------

def hits_scores(edges: DataFrame, iters: int = 8) -> DataFrame:
    """HITS hubs-and-authorities on a weighted digraph (src, dst, w):
    the dual-centrality readout next to :func:`pagerank` — which nations
    are strong EXPORTER hubs vs strong IMPORTER authorities.

    L1-normalized power iteration (sum normalization instead of the
    textbook L2 — same fixed-point direction, division-only arithmetic
    that both engines replay exactly):

        h_t(i) = Σ_j w_ij·a_{t-1}(j) / Σ·,  a_t(j) = Σ_i w_ij·h_t(i) / Σ·

    The iterations fold on the driver over the collected AGGREGATED
    edge list — bounded by the rolled-up graph (≤ dimension² rows for
    the registry's trade graph), the :func:`pagerank` precedent.

    ``LOCAL_EDGE_ROWS`` is the bounded-read contract
    (:func:`dq.fetch_bounded`): the fold runs on the driver, so an edge
    frame past the bound raises a named ``GroupBoundExceeded`` instead
    of silently OOMing the driver — the caller pre-aggregates to
    dimension grain.

    Returns (node, hub, auth), 6dp."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    rows = sorted(
        ((r["src"], r["dst"], float(r["w"]))
         for r in fetch_bounded(
             edges, ["src", "dst", "w"], LOCAL_EDGE_ROWS, "hits_scores"
         ).to_pylist()),
        key=lambda t: (t[0], t[1]),
    )
    nodes = sorted({t[0] for t in rows} | {t[1] for t in rows})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    if n == 0:
        # empty edge frame: mirror the SQL oracle's zero-row result
        # instead of raising 1.0/0 (r11 review finding)
        from pyspark.sql.types import DoubleType, StructField, StructType

        return edges.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("node", edges.schema["src"].dataType, True),
                    StructField("hub", DoubleType(), True),
                    StructField("auth", DoubleType(), True),
                ]
            ),
        )
    auth = [1.0 / n] * n
    hub = [1.0 / n] * n
    for _ in range(iters):
        h_raw = [0.0] * n
        for s, t, w in rows:
            h_raw[idx[s]] += w * auth[idx[t]]
        hs = sum(h_raw)
        hub = [x / hs if hs > 0 else 0.0 for x in h_raw]
        a_raw = [0.0] * n
        for s, t, w in rows:
            a_raw[idx[t]] += w * hub[idx[s]]
        as_ = sum(a_raw)
        auth = [x / as_ if as_ > 0 else 0.0 for x in a_raw]
    spark = edges.sparkSession
    schema = StructType(
        [
            StructField("node", edges.schema["src"].dataType, True),
            StructField("hub", DoubleType(), True),
            StructField("auth", DoubleType(), True),
        ]
    )
    raw = spark.createDataFrame(
        [(nd, hub[idx[nd]], auth[idx[nd]]) for nd in nodes], schema=schema
    )
    return raw.select(
        "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def sql_hits(iters: int = 8) -> str:
    """DuckDB mirror of :func:`hits_scores` — the power iteration
    UNROLLED into chained CTEs (expects ``edges(src, dst, w)`` in
    scope), the sql_pagerank precedent. Sum normalization via a cross
    join to the one-row total; dangling nodes keep score 0 through
    coalesce. Every iteration CTE is AS MATERIALIZED: each level is
    referenced twice (score + normalizer), so DuckDB's default CTE
    INLINING would re-expand the chain 2^iters times — measured as a
    too-many-open-files blowup re-reading the fact parquet before the
    pin."""
    parts = [
        """
    nodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
        )
    ),
    a0 AS MATERIALIZED (
        SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS a FROM nodes
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    h{t}_raw AS MATERIALIZED (
        SELECT nodes.node, coalesce(s.v, 0.0) AS v
        FROM nodes LEFT JOIN (
            SELECT e.src AS node, sum(e.w * p.a) AS v
            FROM edges e JOIN a{t - 1} p ON e.dst = p.node
            GROUP BY 1
        ) s ON nodes.node = s.node
    ),
    h{t} AS MATERIALIZED (
        SELECT node, CASE WHEN tot.s > 0 THEN v / tot.s ELSE 0.0 END AS h
        FROM h{t}_raw CROSS JOIN (
            SELECT sum(v) AS s FROM h{t}_raw
        ) tot
    ),
    a{t}_raw AS MATERIALIZED (
        SELECT nodes.node, coalesce(s.v, 0.0) AS v
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(e.w * p.h) AS v
            FROM edges e JOIN h{t} p ON e.src = p.node
            GROUP BY 1
        ) s ON nodes.node = s.node
    ),
    a{t} AS MATERIALIZED (
        SELECT node, CASE WHEN tot.s > 0 THEN v / tot.s ELSE 0.0 END AS a
        FROM a{t}_raw CROSS JOIN (
            SELECT sum(v) AS s FROM a{t}_raw
        ) tot
    )""")
    return (
        ",".join(parts)
        + f"""
    SELECT h.node, round(h.h, 6) AS hub, round(a.a, 6) AS auth
    FROM h{iters} h JOIN a{iters} a ON h.node = a.node
    """
    )


def k_core(edges: DataFrame, k: int = 3, iters: int = 15) -> DataFrame:
    """k-core decomposition (fixed k): iteratively peel nodes whose
    degree within the surviving subgraph is < k until a fixed point —
    the cohesion filter that separates the dense trading core from
    peripheral nations, and (on co-occurrence graphs) dense topical
    clusters from long-tail noise.

    Input digraph (src, dst, w) is SYMMETRIZED and self-loops dropped:
    degree = number of distinct neighbors among survivors.

    ``iters`` bounds the unrolled peeling; each pass removes ≥1 node or
    is a no-op, so iters ≥ |V| guarantees the fixed point on a bounded
    graph (further passes are no-ops — the oracle unrolls exactly the
    same count). The peeling folds on the driver over the collected
    aggregated edge list — the :func:`pagerank` precedent.

    ``LOCAL_EDGE_ROWS`` is the bounded-read contract (the
    hits_scores guard).  Non-convergence is DETECTED:
    if the peeling exhausts ``iters`` with drops still pending, the
    result would not actually be the k-core (each pass may remove just
    one node, so iters < |V| can truncate) — a named error is raised
    telling the caller to raise ``iters`` (which keeps the SQL
    mirror's unroll count in lock-step) rather than silently returning
    a non-fixed-point subgraph.

    Returns the surviving (node, core_deg) rows, 6dp-free (integers)."""
    from pyspark.sql.types import LongType, StructField, StructType

    pairs = {
        (r["src"], r["dst"])
        for r in fetch_bounded(
            edges, ["src", "dst"], LOCAL_EDGE_ROWS, "k_core"
        ).to_pylist()
        if r["src"] != r["dst"]
    }
    adj: dict = {}
    for s, t in pairs:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    alive = set(adj)
    converged = False
    for _ in range(iters):
        drop = {nd for nd in alive if len(adj[nd] & alive) < k}
        if not drop:
            converged = True
            break
        alive -= drop
    if not converged and any(
        len(adj[nd] & alive) < k for nd in alive
    ):
        raise ValueError(
            f"k_core did not reach a fixed point in iters={iters} "
            f"passes ({len(alive)} nodes still alive with drops "
            "pending); raise iters (the SQL mirror unrolls the same "
            "count, so parity is preserved)"
        )
    spark = edges.sparkSession
    schema = StructType(
        [
            StructField("node", edges.schema["src"].dataType, True),
            StructField("core_deg", LongType(), True),
        ]
    )
    return spark.createDataFrame(
        [(nd, len(adj[nd] & alive)) for nd in sorted(alive)],
        schema=schema,
    )


def sql_k_core(k: int = 3, iters: int = 15) -> str:
    """DuckDB mirror of :func:`k_core` — peeling UNROLLED into chained
    CTEs over a symmetrized, self-loop-free neighbor list (expects
    ``edges(src, dst, w)`` in scope). Each survivor CTE references its
    predecessor twice (both endpoints), so every level is AS
    MATERIALIZED — DuckDB's default inlining would re-expand the
    peeling chain exponentially (the sql_hits lesson)."""
    parts = [
        """
    sym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
        )
    ),
    s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    s{t} AS MATERIALIZED (
        SELECT src AS node FROM sym
        WHERE src IN (SELECT node FROM s{t - 1})
          AND dst IN (SELECT node FROM s{t - 1})
        GROUP BY 1 HAVING count(*) >= {k}
    )""")
    return (
        ",".join(parts)
        + f"""
    SELECT src AS node, count(*) AS core_deg FROM sym
    WHERE src IN (SELECT node FROM s{iters})
      AND dst IN (SELECT node FROM s{iters})
    GROUP BY 1
    """
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the symmetrized graph: the Pearson
    correlation between the degrees at the two ends of each edge —
    positive = hubs link to hubs (social-style), negative = hubs link
    to leaves (infrastructure-style). The one-number topology
    fingerprint next to the degree histogram.

    Computed over the DIRECTED symmetrized edge list (each undirected
    edge contributes both orientations — the standard convention, which
    makes Σx = Σy by construction) from closed-form sums; degree =
    distinct-neighbor count, self-loops dropped.

    Plan: edge-grain aggregates only — distinct pair set, a degree
    aggregate, one broadcast join back, one moment fold. Returns one
    row (n_edges, assortativity), 6dp."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    und = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = pooled_persist(
        und.unionAll(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dx = deg.select(F.col("src").alias("_sx"), F.col("d").alias("x"))
    dy = deg.select(F.col("src").alias("_sy"), F.col("d").alias("y"))
    both = sym.join(F.broadcast(dx), sym["src"] == dx["_sx"]).join(
        F.broadcast(dy), sym["dst"] == dy["_sy"]
    )
    m = both.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("double")).alias("sx"),
        F.sum(F.col("y").cast("double")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("double")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("double")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("double")).alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return m.select(
        F.col("n").alias("n_edges"),
        # try_divide: a degree-regular graph has zero degree variance —
        # ANSI plain-/ crash where the oracle degrades to NULL
        F.round(F.try_divide(cov, F.sqrt(vx * vy)), 6).alias(
            "assortativity"
        ),
    )


def sql_degree_assortativity() -> str:
    """DuckDB replay of :func:`degree_assortativity` (expects
    ``edges(src, dst, w)`` in scope) — same sums, divisions last."""
    return """
    sym AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
        )
    ),
    deg AS (SELECT src, count(*) AS d FROM sym GROUP BY 1),
    m AS (
        SELECT count(*) AS n,
            sum(CAST(dx.d AS DOUBLE)) AS sx,
            sum(CAST(dy.d AS DOUBLE)) AS sy,
            sum(CAST(dx.d AS DOUBLE) * dy.d) AS sxy,
            sum(CAST(dx.d AS DOUBLE) * dx.d) AS sxx,
            sum(CAST(dy.d AS DOUBLE) * dy.d) AS syy
        FROM sym
        JOIN deg dx ON sym.src = dx.src
        JOIN deg dy ON sym.dst = dy.src
    )
    SELECT n AS n_edges,
        round((sxy - sx * sy / n)
              / NULLIF(sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
                       0.0), 6) AS assortativity
    FROM m
    """


def neighbor_jaccard_topk(
    edges: DataFrame,
    topk: int = 15,
) -> DataFrame:
    """Structural-equivalence ranking: Jaccard similarity between the
    SUCCESSOR sets of every pair of source nodes — which two exporter
    nations sell into the most similar markets. The node-level analogue
    of the document near-dup ladder, and the standard link-prediction
    feature.

    Candidates come from a shared-successor equi-join (two nodes appear
    as a pair only if they share ≥1 destination) — the same
    never-all-pairs discipline as the pair census: work is proportional
    to Σ_dst C(indeg_dst, 2), not |V|².

    Returns the top-``topk`` pairs (node_a < node_b) by
    (jaccard DESC, node_a, node_b) — injective order, 6dp."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    succ = pooled_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    out_deg = succ.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    a = succ.select(F.col("src").alias("na"), F.col("dst").alias("_d"))
    b = succ.select(F.col("src").alias("nb"), F.col("dst").alias("_d"))
    inter = (
        a.join(b, "_d")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = out_deg.select(F.col("src").alias("na"), F.col("sz").alias("sz_a"))
    sb = out_deg.select(F.col("src").alias("nb"), F.col("sz").alias("sz_b"))
    sim = (
        inter.join(F.broadcast(sa), "na")
        .join(F.broadcast(sb), "nb")
        .select(
            "na",
            "nb",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        sim.orderBy(F.desc("jaccard"), "na", "nb")
        .limit(topk)
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "jaccard",
        )
    )


def sql_neighbor_jaccard_topk(topk: int = 15) -> str:
    """DuckDB replay of :func:`neighbor_jaccard_topk` (expects
    ``edges(src, dst, w)`` in scope) — same candidates, same injective
    order."""
    return f"""
    succ AS (
        SELECT DISTINCT src, dst FROM edges WHERE src <> dst
    ),
    deg AS (SELECT src, count(*) AS sz FROM succ GROUP BY 1),
    inter AS (
        SELECT a.src AS na, b.src AS nb, count(*) AS i
        FROM succ a JOIN succ b ON a.dst = b.dst AND a.src < b.src
        GROUP BY 1, 2
    )
    SELECT inter.na AS node_a, inter.nb AS node_b,
        round(CAST(i AS DOUBLE) / (da.sz + db.sz - i), 6) AS jaccard
    FROM inter
    JOIN deg da ON inter.na = da.src
    JOIN deg db ON inter.nb = db.src
    ORDER BY jaccard DESC, node_a, node_b
    LIMIT {topk}
    """


# ---------------------------------------------------------------------------
# r12: harmonic closeness centrality
# ---------------------------------------------------------------------------

def harmonic_closeness(edges: DataFrame, iters: int = 8) -> DataFrame:
    """Harmonic closeness centrality on the SYMMETRIZED digraph:
    C(u) = Σ_{v≠u, reachable} 1/d(u,v) — the distance-based third
    centrality next to degree (local) and PageRank/HITS (flow): which
    nations sit geodesically CENTRAL in the trade topology.  The
    harmonic form is the disconnection-robust variant (Boldi-Vigna):
    unreachable pairs contribute 0 instead of poisoning the mean.

    One BFS per node runs on the driver over the collected aggregated
    edge list — bounded by ``LOCAL_EDGE_ROWS`` (the hits_scores
    guard); dimension-grain graphs only, the :func:`pagerank`
    precedent.  ``iters`` bounds the
    BFS depth; if any BFS frontier is still expanding when the bound
    exhausts, a named error demands a larger ``iters`` (the k_core
    convergence contract) — the SQL mirror unrolls exactly the same
    level count, so parity is structural.

    Returns (node, n_reached, harmonic), 6dp, observed nodes only."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    pairs = {
        (r["src"], r["dst"])
        for r in fetch_bounded(
            edges, ["src", "dst"], LOCAL_EDGE_ROWS, "harmonic_closeness"
        ).to_pylist()
        if r["src"] != r["dst"]
    }
    adj: dict = {}
    for s, t in pairs:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    out = []
    for u in sorted(adj):
        dist = {u: 0}
        frontier = [u]
        depth = 0
        while frontier and depth < iters:
            depth += 1
            nxt = []
            for x in frontier:
                for y in adj[x]:
                    if y not in dist:
                        dist[y] = depth
                        nxt.append(y)
            frontier = nxt
        if frontier and any(
            y not in dist for x in frontier for y in adj[x]
        ):
            raise ValueError(
                f"harmonic_closeness BFS from {u!r} still expanding at "
                f"iters={iters}; raise iters (the SQL mirror unrolls "
                "the same count, so parity is preserved)"
            )
        reached = [d for v, d in dist.items() if v != u]
        out.append(
            (
                u,
                len(reached),
                round(sum(1.0 / d for d in reached), 6),
            )
        )
    spark = edges.sparkSession
    schema = StructType(
        [
            StructField("node", edges.schema["src"].dataType, True),
            StructField("n_reached", LongType(), True),
            StructField("harmonic", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema=schema)


def sql_harmonic_closeness(iters: int = 8) -> str:
    """DuckDB mirror of :func:`harmonic_closeness` — BFS UNROLLED into
    min-distance CTE levels over the symmetrized neighbor list (expects
    ``edges(src, dst, w)`` in scope).  Every level is AS MATERIALIZED
    (the sql_hits/sql_k_core inlining lesson)."""
    parts = [
        """
    sym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
        )
    ),
    r1 AS MATERIALIZED (SELECT src, dst, 1 AS d FROM sym)"""
    ]
    for t in range(2, iters + 1):
        parts.append(f"""
    r{t} AS MATERIALIZED (
        SELECT src, dst, min(d) AS d FROM (
            SELECT src, dst, d FROM r{t - 1}
            UNION ALL
            SELECT r.src, e.dst, r.d + 1 AS d
            FROM r{t - 1} r JOIN sym e ON r.dst = e.src
        ) GROUP BY 1, 2
    )""")
    return (
        ",".join(parts)
        + f"""
    SELECT src AS node, count(*) AS n_reached,
        round(sum(1.0 / d), 6) AS harmonic
    FROM r{iters} WHERE src <> dst
    GROUP BY 1
    """
    )


# ---------------------------------------------------------------------------
# r12d: eigenvector centrality — the undamped sibling of pagerank
# ---------------------------------------------------------------------------


def eigenvector_centrality(edges: DataFrame, iters: int = 12) -> DataFrame:
    """Eigenvector centrality on a weighted digraph (src, dst, w):
    score(j) ∝ Σ_i w_ij·score(i) — influence flows along edges with NO
    damping/teleport, so (unlike :func:`pagerank`) a node is central
    only if its in-neighbors are central, the "prestige" readout next
    to pagerank's "random surfer".

    L1-normalized power iteration (sum instead of the textbook L2 —
    same fixed-point direction, division-only arithmetic both engines
    replay exactly; the pagerank/HITS convention in this module).
    Nodes with no in-edges decay to 0, the defining difference from
    pagerank's teleport floor.

    The iterations fold on the driver over the collected AGGREGATED
    edge list under the ``LOCAL_EDGE_ROWS`` bounded-read contract
    (:func:`dq.fetch_bounded`, the hits_scores seam) — intended
    inputs are dimension-grain rollups (≤ |dim|² rows).

    Returns (node, score), 6dp. Empty edge frame → empty frame (the
    hits_scores empty contract)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    rows = sorted(
        ((r["src"], r["dst"], float(r["w"]))
         for r in fetch_bounded(
             edges, ["src", "dst", "w"], LOCAL_EDGE_ROWS,
             "eigenvector_centrality",
         ).to_pylist()),
        key=lambda t: (t[0], t[1]),
    )
    nodes = sorted({t[0] for t in rows} | {t[1] for t in rows})
    if not nodes:
        return edges.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("node", edges.schema["src"].dataType, True),
                    StructField("score", DoubleType(), True),
                ]
            ),
        )
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    score = [1.0 / n] * n
    for _ in range(iters):
        nxt = [0.0] * n
        for s, d, w in rows:
            nxt[idx[d]] += w * score[idx[s]]
        tot = sum(nxt)
        score = [v / tot for v in nxt] if tot > 0 else [0.0] * n
    out = [(nodes[i], round(score[i], 6)) for i in range(n)]
    return edges.sparkSession.createDataFrame(
        out,
        StructType(
            [
                StructField("node", edges.schema["src"].dataType, True),
                StructField("score", DoubleType(), True),
            ]
        ),
    )


def sql_eigenvector_centrality(iters: int = 12) -> str:
    """DuckDB mirror of :func:`eigenvector_centrality` — the power
    iteration UNROLLED into chained MATERIALIZED CTEs (expects
    ``edges(src, dst, w)`` in scope; the sql_hits precedent, including
    the AS MATERIALIZED pin against 2^iters CTE re-inlining)."""
    parts = [
        """
    nodes AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
        )
    ),
    s0 AS MATERIALIZED (
        SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS s FROM nodes
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    s{t}_raw AS MATERIALIZED (
        SELECT nodes.node, coalesce(v.v, 0.0) AS v
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(e.w * p.s) AS v
            FROM edges e JOIN s{t - 1} p ON e.src = p.node
            GROUP BY 1
        ) v ON nodes.node = v.node
    ),
    s{t} AS MATERIALIZED (
        SELECT node, CASE WHEN tot.s > 0 THEN v / tot.s ELSE 0.0 END AS s
        FROM s{t}_raw CROSS JOIN (SELECT sum(v) AS s FROM s{t}_raw) tot
    )""")
    return (
        ",".join(parts)
        + f"""
    SELECT node, round(s, 6) AS score FROM s{iters}
    """
    )


# ---------------------------------------------------------------------------
# r12f: Adamic-Adar link prediction — who trades next
# ---------------------------------------------------------------------------


def _weighted_common_neighbor_census(edges: DataFrame, weight_of_deg):
    """Shared pair-census scaffold behind the link-prediction family
    (Adamic-Adar 1/ln deg, resource-allocation 1/deg; r13 second
    review: the symmetrize/degree/witness/census pipeline was pasted
    per operator): symmetrize, compute witness weights from
    ``weight_of_deg(deg_col)``, and return
    (sym, deg, scores(na, nb, common, wsum)) — candidates come from
    the shared-neighbor equi-join (work ∝ Σ_z C(deg_z, 2), never
    |V|²).  ``sym``/``deg`` are pooled-persisted (every caller reads
    them again for is_edge flags or degree columns)."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    sym = pooled_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .union(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    deg = pooled_persist(
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    wz = sym.join(F.broadcast(deg), "src").select(
        F.col("dst").alias("node"),
        F.col("src").alias("z"),
        weight_of_deg(F.col("deg")).alias("w"),
    )
    a = wz.select(F.col("node").alias("na"), "z", "w")
    b = wz.select(F.col("node").alias("nb"), "z")
    scores = (
        a.join(b, "z")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.round(F.sum("w"), 6).alias("wsum"),
        )
    )
    return sym, deg, scores


def _sql_common_neighbor_census(weight_sql: str) -> str:
    """DuckDB twin of :func:`_weighted_common_neighbor_census` —
    emits the sym/deg/wz/scores CTE bodies; ``weight_sql`` is the
    witness-weight expression over ``deg.deg``."""
    return f"""sym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
        )
    ),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
    wz AS (
        SELECT sym.dst AS node, sym.src AS z, {weight_sql} AS w
        FROM sym JOIN deg ON sym.src = deg.src
    ),
    scores AS (
        SELECT a.node AS na, b.node AS nb,
            count(*) AS common, round(sum(a.w), 6) AS wsum
        FROM wz a JOIN wz b ON a.z = b.z AND a.node < b.node
        GROUP BY 1, 2
    )"""


def adamic_adar_topk(
    edges: DataFrame,
    topk: int = 15,
) -> DataFrame:
    """Adamic-Adar link-prediction scores on the SYMMETRIZED graph:
    for every candidate pair, common neighbors weighted by how
    exclusive each one is —

        AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1 / ln(deg(z))

    the degree-weighted refinement of :func:`neighbor_jaccard_topk`
    (a hub everyone touches says little; a rare shared partner says a
    lot). Degree-1 witnesses (ln 1 = 0) cannot occur: z is a common
    neighbor of two distinct nodes, so deg(z) ≥ 2 by construction.

    Candidates come from the shared-neighbor equi-join (work ∝
    Σ_z C(deg_z, 2), never |V|²) — the pair-census discipline; each
    witness z carries its own 1/ln(deg) weight into one grouped sum.
    An ``is_edge`` flag marks pairs ALREADY connected (link prediction
    ranks the non-edges; the flag keeps the readout honest without a
    second census).

    Returns the top-``topk`` pairs (node_a < node_b) by
    (aa_score DESC, node_a, node_b) — injective order, 6dp."""
    from pyspark.sql import Window

    # try_divide in the witness weight: it is PROJECTED per edge before
    # the pair join prunes degree-1 witnesses (ln 1 = 0); whether the
    # division executes is plan-order-dependent under ANSI (r12 second
    # review pass).  Degree-1 rows get NULL w and can never survive the
    # join (one neighbor -> no pair).
    sym, deg, census = _weighted_common_neighbor_census(
        edges,
        lambda d: F.try_divide(F.lit(1.0), F.log(d.cast("double"))),
    )
    scores = census.withColumnRenamed("wsum", "aa_score")
    existing = sym.select(
        F.col("src").alias("na"), F.col("dst").alias("nb")
    ).filter(F.col("na") < F.col("nb")).withColumn("_e", F.lit(1))
    w_rank = Window.orderBy(
        F.col("aa_score").desc(), F.col("node_a").asc(),
        F.col("node_b").asc()
    )
    return (
        scores.join(existing, ["na", "nb"], "left")
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "common",
            "aa_score",
            F.coalesce(F.col("_e"), F.lit(0)).alias("is_edge"),
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= topk)
        .drop("_rk")
    )


def sql_adamic_adar_topk(topk: int = 15) -> str:
    """DuckDB replay of :func:`adamic_adar_topk` (expects
    ``edges(src, dst, w)`` in scope) — same symmetrization, witness
    weights, census, and injective rank order."""
    census = _sql_common_neighbor_census(
        "1.0 / nullif(ln(CAST(deg.deg AS DOUBLE)), 0.0)"
    )
    return f"""
    {census},
    scored AS (
        SELECT na, nb, common, wsum AS aa_score FROM scores
    ),
    flagged AS (
        SELECT s.na, s.nb, s.common, s.aa_score,
            CASE WHEN e.src IS NULL THEN 0 ELSE 1 END AS is_edge
        FROM scored s LEFT JOIN sym e
            ON e.src = s.na AND e.dst = s.nb
    )
    SELECT na AS node_a, nb AS node_b, common, aa_score, is_edge
    FROM (
        SELECT *, row_number() OVER (
            ORDER BY aa_score DESC, na ASC, nb ASC) AS _rk
        FROM flagged
    ) WHERE _rk <= {topk}
    """


# ---------------------------------------------------------------------------
# r13i: local clustering, eccentricity/diameter, resource-allocation links
# ---------------------------------------------------------------------------


def local_clustering_topk(
    edges: DataFrame,
    topk: int = 25,
) -> DataFrame:
    """PER-NODE clustering coefficient on the symmetrized simple graph
    — the local sibling of :func:`triangle_count`'s single global
    number:

        C(u) = 2·tri(u) / (deg(u)·(deg(u)−1))

    'is THIS node's neighborhood a clique or a star' — the question
    the global coefficient averages away.  Triangles enumerate once as
    ordered a<b<c via the two-hop oriented join (the pair-census
    discipline), then explode to their three corners for the per-node
    tally; deg-1 nodes degrade to NULL via try_divide.  Returns the
    top-``topk`` nodes by (clustering DESC NULLS LAST, node ASC),
    (node, degree, n_triangles, clustering), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    und = pooled_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    ab = und.select("a", "b")
    bc = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = und.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = pooled_persist(ab.join(bc, "b").join(ac, ["a", "c"]))
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    d = F.col("degree").cast("double")
    w_rank = Window.orderBy(
        F.col("clustering").desc_nulls_last(), F.col("node").asc()
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                F.try_divide(
                    2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)),
                    d * (d - 1.0),
                ),
                6,
            ).alias("clustering"),
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= topk)
        .drop("_rk")
    )


def sql_local_clustering_topk(topk: int = 25) -> str:
    """DuckDB replay of :func:`local_clustering_topk` (expects
    ``edges(src, dst, ...)`` in scope)."""
    return f"""
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    ),
    tri AS (
        SELECT ab.a, ab.b, bc.c
        FROM und ab
        JOIN (SELECT a AS b, b AS c FROM und) bc ON ab.b = bc.b
        JOIN (SELECT a, b AS c FROM und) ac
          ON ab.a = ac.a AND bc.c = ac.c
    ),
    corners AS (
        SELECT node, count(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY 1
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY 1
    ),
    scored AS (
        SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
            CAST(coalesce(corners.n_triangles, 0) AS BIGINT)
                AS n_triangles,
            round(2.0 * coalesce(corners.n_triangles, 0)
                  / nullif(CAST(deg.degree AS DOUBLE)
                           * (deg.degree - 1.0), 0.0), 6) AS clustering
        FROM deg LEFT JOIN corners ON deg.node = corners.node
    )
    SELECT node, degree, n_triangles, clustering
    FROM scored
    ORDER BY clustering DESC NULLS LAST, node ASC LIMIT {topk}
    """


# eccentricity runs one BFS per node (|V|·|E| on the driver), so its
# edge bound is a tenth of LOCAL_EDGE_ROWS
LOCAL_ECCENTRICITY_ROWS = 200_000


def graph_eccentricity(edges: DataFrame, max_hops: int = 64) -> DataFrame:
    """Per-node eccentricity (max BFS hop distance to any REACHABLE
    node) on the symmetrized graph, plus reach counts — diameter =
    max eccentricity, radius = min, read straight off the rows.  The
    'how far apart can two markets be' readout over the nation trade
    graph.

    The DIMENSION-grain edge list (nations² at most) folds on the
    driver under :func:`dq.fetch_bounded` (``LOCAL_ECCENTRICITY_ROWS``,
    the HITS/k-core precedent — a plain-Python BFS per node, |V|·|E|
    bounded).
    Returns (node, n_reachable, eccentricity) ordered by node."""
    rows = fetch_bounded(
        edges.filter(F.col("src") != F.col("dst")),
        ["src", "dst"],
        LOCAL_ECCENTRICITY_ROWS,
        "graph_eccentricity",
    ).to_pylist()
    # max_hops mirrors the oracle's recursive-CTE bound: if the graph
    # is DEEPER the two sides would silently disagree (the SQL walk
    # stops at the cap) — raise instead (r13 second review)
    adj: dict = {}
    for r in rows:
        adj.setdefault(r["src"], set()).add(r["dst"])
        adj.setdefault(r["dst"], set()).add(r["src"])
    out = []
    for node in sorted(adj):
        seen = {node}
        frontier = [node]
        depth = 0
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            if nxt:
                depth += 1
                if depth > max_hops:
                    raise ValueError(
                        f"graph_eccentricity: BFS exceeded max_hops="
                        f"{max_hops}; raise max_hops AND regenerate the"
                        " oracle with the same bound"
                    )
            frontier = nxt
        out.append((node, len(seen) - 1, depth))
    spark = edges.sparkSession
    return spark.createDataFrame(
        out, "node string, n_reachable long, eccentricity long"
    ).orderBy("node")


def sql_graph_eccentricity(max_hops: int = 64) -> str:
    """DuckDB replay of :func:`graph_eccentricity` (expects
    ``edges(src, dst, ...)`` in scope): a recursive-CTE BFS bounded at
    ``max_hops`` — the SAME bound the Spark side enforces by raising,
    so the pair can never silently diverge on a deeper graph — min hop
    count per pair, then the per-source max fold."""
    return f"""
    sym AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst, src FROM edges WHERE src <> dst
        )
    ),
    paths AS (
        WITH RECURSIVE walk(src, dst, d) AS (
            SELECT src, dst, 1 FROM sym
            UNION
            SELECT w.src, s.dst, w.d + 1
            FROM walk w JOIN sym s ON w.dst = s.src
            WHERE w.d < {max_hops} AND w.src <> s.dst
        )
        SELECT src, dst, min(d) AS d FROM walk GROUP BY 1, 2
    )
    SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reachable,
        CAST(max(d) AS BIGINT) AS eccentricity
    FROM paths GROUP BY 1 ORDER BY node
    """


def resource_allocation_topk(
    edges: DataFrame,
    topk: int = 15,
) -> DataFrame:
    """Resource-allocation link-prediction scores — Adamic-Adar's
    harder-discounting sibling (1/deg instead of 1/ln deg; Zhou-Lü-
    Zhang showed RA beats AA exactly when hubs dominate):

        RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1 / deg(z)

    plus the preferential-attachment baseline deg(a)·deg(b) carried
    per pair (the 'would a null model already predict this link'
    column).  Same shared-neighbor census as :func:`adamic_adar_topk`
    — work ∝ Σ_z C(deg_z, 2), never |V|².  Returns the top-``topk``
    pairs by (ra_score DESC, node_a, node_b),
    (node_a, node_b, common, ra_score, pa_score, is_edge), 6dp."""
    from pyspark.sql import Window

    sym, deg, census = _weighted_common_neighbor_census(
        edges, lambda d: F.lit(1.0) / d
    )
    scores = census.withColumnRenamed("wsum", "ra_score")
    da = deg.select(F.col("src").alias("na"), F.col("deg").alias("_da"))
    db = deg.select(F.col("src").alias("nb"), F.col("deg").alias("_db"))
    existing = sym.select(
        F.col("src").alias("na"), F.col("dst").alias("nb")
    ).filter(F.col("na") < F.col("nb")).withColumn("_e", F.lit(1))
    w_rank = Window.orderBy(
        F.col("ra_score").desc(), F.col("node_a").asc(),
        F.col("node_b").asc()
    )
    return (
        scores.join(F.broadcast(da), "na")
        .join(F.broadcast(db), "nb")
        .join(existing, ["na", "nb"], "left")
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "common",
            "ra_score",
            (F.col("_da") * F.col("_db")).alias("pa_score"),
            F.coalesce(F.col("_e"), F.lit(0)).alias("is_edge"),
        )
        .withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= topk)
        .drop("_rk")
    )


def sql_resource_allocation_topk(topk: int = 15) -> str:
    """DuckDB replay of :func:`resource_allocation_topk` (expects
    ``edges`` in scope)."""
    census = _sql_common_neighbor_census("1.0 / deg.deg")
    return f"""
    {census},
    scored AS (
        SELECT na, nb, CAST(common AS BIGINT) AS common,
            wsum AS ra_score
        FROM scores
    ),
    ex AS (
        SELECT src AS na, dst AS nb, 1 AS e FROM sym WHERE src < dst
    )
    SELECT s.na AS node_a, s.nb AS node_b, s.common, s.ra_score,
        CAST(da.deg * db.deg AS BIGINT) AS pa_score,
        coalesce(ex.e, 0) AS is_edge
    FROM scored s
    JOIN deg da ON s.na = da.src
    JOIN deg db ON s.nb = db.src
    LEFT JOIN ex ON s.na = ex.na AND s.nb = ex.nb
    ORDER BY s.ra_score DESC, node_a ASC, node_b ASC LIMIT {topk}
    """
