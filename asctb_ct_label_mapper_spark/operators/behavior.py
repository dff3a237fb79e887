"""Behavioral / product-analytics operators over event streams: ordered
funnels, retention cohorts, SCD2 attribute history.

Not in the reference (no event analytics there); first-class operators
for any engine that claims the events workload. All three are
oracle-paired (plain ANSI SQL replays) and designed for the 100 TB
posture:

- funnel: K narrow per-user min-aggregates chained by equi-joins — no
  per-user sort, no window, no row expansion; each step's frame shrinks
  to the users that reached it.
- retention: two aggregates (first-activity month, distinct active
  months) + one equi-join on user; the output is cohort x offset,
  calendar-sized.
- scd2: per-user lag/lead windows (hot keys bounded by per-user event
  counts; the change-row filter shrinks the lead window's input to the
  change points only).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.dq import fetch_bounded


def _q_lit(lit: str) -> str:
    """Escape a string literal for generated Spark-SQL expressions —
    ONE definition (r11 second review: two identical nested copies)."""
    return "'" + lit.replace("'", "''") + "'"


def _q_label(q) -> str:
    """Column label for a quantile: q_25 for 0.25, q_12_5 for 0.125 —
    injective on distinct quantiles (int(round(q*100)) collided:
    0.125 and 0.12 both labeled q_12, and banker's rounding mislabeled
    halves; r11 second review)."""
    return "q_" + ("%g" % (float(q) * 100)).replace(".", "_").replace(
        "-", "m"
    )


def funnel_steps(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    within: str | None = None,
    impl: str = "fold",
) -> DataFrame:
    """ORDERED funnel: a user reaches step i when an event of type
    ``steps[i]`` occurs STRICTLY AFTER the user's step-(i-1) reach time
    (the earliest such chain — standard product-analytics semantics).
    ``within`` (an interval string, e.g. ``'7 days'``) additionally
    requires each step inside that window of the previous step's reach
    time.

    SEMANTICS NOTE (with ``within``): steps anchor at the EARLIEST
    previous-step reach — the "first touch" counting convention
    (Amplitude's "first" mode). A user whose chain only completes via a
    LATER occurrence of a previous step (signup@d1, view@d2, view@d8,
    purchase@d14 with a 7-day window) is NOT counted: the view anchor
    is d2 and d14 falls outside its window. Without ``within`` the
    greedy-earliest anchor is provably equivalent to "any chain"; with
    it, the re-anchoring "any qualifying chain" flavor would need a
    per-user ordered scan — a deliberate non-goal here, stated rather
    than hidden. The oracle replays the same first-touch plan.

    Plan: step 1 is one min-aggregate; each later step filters to its
    event type, equi-joins the previous step's (user, t) frame, and
    min-aggregates the qualifying timestamps. K steps = K narrow
    aggregates + K-1 joins, every frame keyed and shrinking — no
    per-user ordered scan anywhere.

    Returns (step, step_name, users, conv_rate) where conv_rate is
    users / step-1 users rounded to 6dp (NULL if step 1 is empty).

    ``impl`` (r10): ``'fold'`` (default) — ONE scan filtered to
    ``type IN steps`` (the IN predicate pushes to the parquet scan),
    ONE user-keyed Exchange, then a per-user greedy fill over the
    sorted bounded funnel-event array (array_sort + aggregate HOF with
    a K-slot reach accumulator; each event fills at most the first
    eligible slot, conditions read the PRE-update accumulator so
    repeated step types chain correctly). Provably the same first-touch
    reach times: events are processed in ascending (ts, type) order, so
    the first type-i event strictly after slot i-1's reach time IS the
    min the join formulation takes. At 100 TB a 5-step funnel is one
    pass over the event log instead of five. ``'joins'`` — the r9
    K-scan/K-1-equi-join chain, kept as the parity anchor (the fold is
    hash-proven equal by test and by the shared oracle).

    Edge parity (both impls): a user whose ONLY step-1 events carry a
    NULL timestamp still counts for step 1 (the join plan's
    min-aggregate group exists with t = NULL) but can never reach later
    steps (NULL compares false); the fold replays this with a presence
    flag for step 1 and NULL-ts-proof slot fills."""
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    if impl == "fold":
        return _funnel_steps_fold(
            df, steps, ts_col, key_col, type_col, within
        )
    if impl != "joins":
        raise ValueError(f"unknown funnel impl {impl!r}")
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    reached = pooled_persist(
        df.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.min(F.col(ts_col)).alias("t"))
    )
    frames = [reached]
    for s in steps[1:]:
        frames.append(
            pooled_persist(
                df.filter(F.col(type_col) == s)
                .select(
                    F.col(key_col).alias("key"), F.col(ts_col).alias("_ts")
                )
                .join(frames[-1], "key")
                .filter(
                    (F.col("_ts") > F.col("t"))
                    if within is None
                    else (
                        (F.col("_ts") > F.col("t"))
                        & (
                            F.col("_ts")
                            <= F.col("t") + F.expr(f"INTERVAL {within}")
                        )
                    )
                )
                .groupBy("key")
                .agg(F.min("_ts").alias("t"))
            )
        )
    legs = [
        f.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(i + 1).alias("step"),
            F.lit(steps[i]).alias("step_name"),
            F.col("users"),
        )
        for i, f in enumerate(frames)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    base = F.max(F.when(F.col("step") == 1, F.col("users"))).over(
        Window.partitionBy()
    )
    return out.select(
        "step",
        "step_name",
        "users",
        F.when(
            base > 0, F.round(F.col("users").cast("double") / base, 6)
        ).alias("conv_rate"),
    )


def _funnel_reach(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str,
    key_col: str,
    type_col: str,
    within: str | None,
) -> DataFrame:
    """The fold engine's per-user frame: (key, _reach array<timestamp>
    of first-touch step reach times, _present step-1 flag) — shared by
    the funnel counts and the time-to-convert readout so the greedy
    fill can never diverge between them.

    step-1 presence: the join plan's first frame is "users with
    >= 1 step-1 event" (even all-NULL-ts ones, whose group row
    exists with t = NULL) — NOT "users with any funnel event".
    Expressions are GENERATED SQL throughout: the Column-object
    formulation costs ~700 py4j round-trips (~0.4 s) per plan build."""
    k = len(steps)
    ev = df.filter(F.col(type_col).isin(list(steps))).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("_t"),
        F.col(type_col).alias("_y"),
    )
    q = _q_lit
    collected = ev.groupBy("key").agg(
        F.expr(
            "array_sort(collect_list(struct(_t, _y)))"
        ).alias("_evs"),
        F.expr(
            f"max(CASE WHEN _y = {q(steps[0])} THEN 1 ELSE 0 END)"
        ).alias("_has0"),
    )
    zero = "array(" + ", ".join(
        ["CAST(NULL AS TIMESTAMP)"] * k
    ) + ")"
    slots = []
    for i in range(k):
        ok = f"x._y = {q(steps[i])} AND x._t IS NOT NULL AND acc[{i}] IS NULL"
        if i > 0:
            ok += (
                f" AND acc[{i - 1}] IS NOT NULL AND x._t > acc[{i - 1}]"
            )
            if within is not None:
                ok += f" AND x._t <= acc[{i - 1}] + INTERVAL {within}"
        slots.append(f"CASE WHEN {ok} THEN x._t ELSE acc[{i}] END")
    fold_sql = (
        f"aggregate(_evs, {zero}, (acc, x) -> array("
        + ", ".join(slots)
        + "))"
    )
    return collected.selectExpr(
        "key", f"{fold_sql} AS _reach", "_has0 = 1 AS _present"
    )


def _funnel_steps_fold(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str,
    key_col: str,
    type_col: str,
    within: str | None,
) -> DataFrame:
    """One-pass funnel engine (see funnel_steps impl='fold'). 2 Exchanges
    total: the user-keyed partial-aggregated collect, then the K-column
    single-row rollup (bytes-sized) unpivoted to K rows."""
    k = len(steps)
    per_user = _funnel_reach(df, steps, ts_col, key_col, type_col, within)
    q = _q_lit
    # coalesce: on an input with NO funnel-step events per_user is
    # EMPTY and bare sums would emit NULL counts — impl='joins' and the
    # SQL oracle both emit 0 there (count() over an empty frame)
    counts = per_user.agg(
        F.expr(
            "coalesce(sum(CASE WHEN _present THEN 1 ELSE 0 END), 0)"
        ).alias("_c_0"),
        *[
            F.expr(
                f"coalesce(sum(CASE WHEN _reach[{i}] IS NOT NULL "
                "THEN 1 ELSE 0 END), 0)"
            ).alias(f"_c_{i}")
            for i in range(1, k)
        ],
    )
    stack = ", ".join(
        f"{i + 1}, {q(steps[i])}, _c_{i}" for i in range(k)
    )
    out = counts.selectExpr(
        f"stack({k}, {stack}) AS (step, step_name, users)"
    )
    return out.selectExpr(
        "CAST(step AS INT) AS step",
        "step_name",
        "CAST(users AS BIGINT) AS users",
        "CASE WHEN max(CASE WHEN step = 1 THEN users END) OVER () > 0"
        " THEN round(CAST(users AS DOUBLE)"
        " / max(CASE WHEN step = 1 THEN users END) OVER (), 6)"
        " END AS conv_rate",
    )


def sql_funnel_steps(
    table: str = "events",
    steps: Sequence[str] = ("signup", "view", "purchase"),
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    where: str = "1=1",
    within: str | None = None,
) -> str:
    """DuckDB replay of ``funnel_steps`` — the same chained min-after
    aggregates, unioned into (step, step_name, users, conv_rate)."""
    ctes = [
        f"s1 AS (SELECT {key_col} AS key, min({ts_col}) AS t FROM {table} "
        f"WHERE ({where}) AND {type_col} = '{steps[0]}' GROUP BY {key_col})"
    ]
    for i, s in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.{key_col} AS key, min(e.{ts_col}) AS t "
            f"FROM {table} e JOIN s{i - 1} p ON e.{key_col} = p.key "
            f"WHERE ({where}) AND e.{type_col} = '{s}' AND e.{ts_col} > p.t "
            + (
                f"AND e.{ts_col} <= p.t + INTERVAL {within} "
                if within is not None
                else ""
            )
            + f"GROUP BY e.{key_col})"
        )
    legs = []
    for i, s in enumerate(steps, start=1):
        legs.append(
            f"SELECT {i} AS step, '{s}' AS step_name, "
            f"(SELECT count(*) FROM s{i}) AS users"
        )
    return f"""
    WITH {", ".join(ctes)},
    cnt AS ({" UNION ALL ".join(legs)})
    SELECT step, step_name, users,
        CASE WHEN (SELECT users FROM cnt WHERE step = 1) > 0 THEN
            round(CAST(users AS DOUBLE)
                  / (SELECT users FROM cnt WHERE step = 1), 6)
        ELSE NULL END AS conv_rate
    FROM cnt
    """


def retention_cohorts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    granularity: str = "month",
) -> DataFrame:
    """Classic retention matrix: cohort = the user's first-activity
    period, one output row per (cohort, offset) with the count of
    cohort users active ``offset`` periods after their first.

    Plan: first-activity aggregate + distinct (user, period) + one
    equi-join on user; output is calendar x calendar sized. Offsets use
    exact period arithmetic (months_between on truncated months is
    integral), so both engines bucket identically.

    Returns (cohort, offset_periods, n_users); offset 0 row counts the
    cohort size."""
    period = F.date_trunc(granularity, F.col(ts_col))
    firsts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.min(period).alias("cohort")
    )
    active = df.select(
        F.col(key_col).alias("key"), period.alias("p")
    ).distinct()
    if granularity == "month":
        off = F.months_between(F.col("p"), F.col("cohort")).cast("int")
    elif granularity == "week":
        off = (F.datediff(F.col("p"), F.col("cohort")) / 7).cast("int")
    elif granularity == "day":
        off = F.datediff(F.col("p"), F.col("cohort")).cast("int")
    else:
        raise ValueError(f"unsupported granularity {granularity!r}")
    # cohort rendered as a yyyy-MM-dd STRING — the repo's cross-engine
    # date convention (the driver's pandas hasher sees identical values;
    # a DATE column would arrive as datetime.date from Spark but
    # datetime64 from DuckDB)
    return (
        active.join(firsts, "key")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            off.alias("offset_periods"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def sql_retention_cohorts(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    granularity: str = "month",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``retention_cohorts`` (datediff per-period ==
    months_between/datediff on truncated periods)."""
    unit = {"month": "month", "week": "week", "day": "day"}[granularity]
    if granularity == "week":
        off = "CAST(datediff('day', cohort, p) / 7 AS INT)"
    elif granularity == "day":
        off = "datediff('day', cohort, p)"
    else:
        off = f"datediff('{unit}', cohort, p)"
    return f"""
    WITH firsts AS (
        SELECT {key_col} AS key,
            min(date_trunc('{granularity}', {ts_col})) AS cohort
        FROM {table} WHERE {where} GROUP BY {key_col}
    ), active AS (
        SELECT DISTINCT {key_col} AS key,
            date_trunc('{granularity}', {ts_col}) AS p
        FROM {table} WHERE {where}
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort, {off} AS offset_periods,
        CAST(count(*) AS BIGINT) AS n_users
    FROM active JOIN firsts USING (key)
    GROUP BY 1, 2
    """


def scd2_history(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    attr_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history of an attribute: one
    versioned row per consecutive RUN of equal attribute values per key,
    with [valid_from, valid_to) validity and an is_current flag on the
    open-ended last run.

    Plan: one per-key lag window marks change points (value differs
    from the previous row's), then a second window over the CHANGE ROWS
    ONLY assigns version numbers and leads the next change's timestamp
    into valid_to — the second window's input is runs, not rows.
    Deterministic under the (ts, id)-unique contract.

    Returns (key, attr, version, valid_from, valid_to, is_current)."""
    w2 = Window.partitionBy("key").orderBy(F.col("ts"), F.col("id"))
    changed = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(attr_col).alias("attr"),
        )
        .withColumn("_prev", F.lag("attr").over(w2))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("attr")))
    )
    return changed.select(
        "key",
        "attr",
        F.row_number().over(w2).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


def sql_scd2_history(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    attr_col: str = "event_type",
    id_col: str = "event_id",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``scd2_history`` — identical lag/filter/lead
    windows."""
    return f"""
    WITH marked AS (
        SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
            {attr_col} AS attr,
            lag({attr_col}) OVER (PARTITION BY {key_col}
                                  ORDER BY {ts_col}, {id_col}) AS prev
        FROM {table} WHERE {where}
    ), runs AS (
        SELECT key, ts, id, attr FROM marked
        WHERE prev IS NULL OR prev <> attr
    )
    SELECT key, attr,
        CAST(row_number() OVER w AS INT) AS version,
        ts AS valid_from,
        lead(ts) OVER w AS valid_to,
        lead(ts) OVER w IS NULL AS is_current
    FROM runs
    WINDOW w AS (PARTITION BY key ORDER BY ts, id)
    """


def event_path_ngrams(
    df: DataFrame,
    n: int = 3,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    min_count: int = 1,
) -> DataFrame:
    """Sequence mining over event paths: counts of consecutive
    ``n``-grams of event types per key, pooled across keys — the
    "what do users do next" primitive (the n=2 case is the Markov
    transition matrix). Paths never cross keys.

    Plan: n-1 lead windows per key (bounded by per-key event counts),
    null-filtered so truncated tails emit nothing, then one combinable
    count. Returns (path, n_paths) with path as 'a>b>c', filtered to
    ``min_count``.

    N-GRAM ARITY CONTRACT (r10): EVERY step must be non-null, not just
    the last lead — a NULL type mid-window is silently skipped by
    concat_ws on both engines, so ('a', NULL, 'c') used to collide
    with genuine 2-step 'a>c' paths. Windows containing a NULL type
    now emit nothing; NULL-typed events still advance the sequence
    (they occupy a position, they just can't be named).

    NULL-ts events are excluded BEFORE the windows (r10 second review
    pass): ts is the window order key and the engines place NULLs at
    opposite ends (Spark NULLS FIRST, DuckDB NULLS LAST), which would
    change the consecutive-window set."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, n)
    ]
    full = steps[0].isNotNull()
    for st in steps[1:]:
        full = full & st.isNotNull()
    pathed = df.filter(F.col(ts_col).isNotNull()).select(
        F.concat_ws(">", *steps).alias("path"),
        full.alias("_full"),
    )
    return (
        pathed.filter(F.col("_full"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .filter(F.col("n_paths") >= min_count)
    )


def sql_event_path_ngrams(
    table: str = "events",
    n: int = 3,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    min_count: int = 1,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``event_path_ngrams`` (same lead windows, same
    '>' joining, same truncated-tail exclusion)."""
    leads = [type_col] + [
        f"lead({type_col}, {i}) OVER w" for i in range(1, n)
    ]
    concat = ", ".join(leads)
    all_non_null = " AND ".join(f"({e}) IS NOT NULL" for e in leads)
    return f"""
    WITH pathed AS (
        SELECT concat_ws('>', {concat}) AS path,
            ({all_non_null}) AS full_path
        FROM {table} WHERE ({where}) AND {ts_col} IS NOT NULL
        WINDOW w AS (PARTITION BY {key_col} ORDER BY {ts_col}, {id_col})
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_paths
    FROM pathed WHERE full_path
    GROUP BY path
    HAVING count(*) >= {min_count}
    """


def markov_transitions(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Row-stochastic Markov transition matrix over consecutive event
    pairs per key — the normalized n=2 flavor of
    :func:`event_path_ngrams`, the "what happens next" model product
    analytics and session simulators both start from. Paths never cross
    keys; NULL types void their pairs (the r10 arity contract).

    Plan: one lead window per key, one pooled count, then the per-from
    normalization as a window sum over the FROM-TYPE-grain count table
    (|types|² rows) — the raw stream is scanned once."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    nxt = F.lead(type_col).over(w)
    pairs = (
        # NULL-ts events are excluded BEFORE the lead: ts is the window
        # order key and the engines place NULLs at opposite ends, which
        # would change the consecutive-pair set
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(type_col).alias("from_type"), nxt.alias("to_type")
        )
        .filter(
            F.col("from_type").isNotNull() & F.col("to_type").isNotNull()
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("p"),
    )


def sql_markov_transitions(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``markov_transitions`` (same lead window, same
    per-from normalization)."""
    return f"""
    WITH pairs AS (
        SELECT from_type, to_type, count(*) AS n FROM (
            SELECT {type_col} AS from_type,
                lead({type_col}) OVER (PARTITION BY {key_col}
                    ORDER BY {ts_col}, {id_col}) AS to_type
            FROM {table} WHERE ({where}) AND {ts_col} IS NOT NULL
        ) WHERE from_type IS NOT NULL AND to_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        round(CAST(n AS DOUBLE)
              / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE),
              6) AS p
    FROM pairs
    """


def rfm_segments(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    type_col: str = "event_type",
    purchase_type: str = "purchase",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM segmentation: each purchasing key gets recency / frequency /
    monetary quartile labels (1 = best: most recent, most frequent,
    highest spend), output as segment COUNTS — the ≤n_tiles³-row
    marketing-segment table.

    Determinism: ntile ties are broken by key (the registry's standing
    total-order contract for bucket assignment), so both engines
    assign identical tiles. Recency is whole days vs the corpus max
    event date. One grouped aggregate + three ntile windows over the
    KEY-GRAIN table + one tiny count."""
    purchases = df.filter(
        (F.col(type_col) == purchase_type) & F.col(value_col).isNotNull()
    )
    per_key = purchases.groupBy(F.col(key_col).alias("key")).agg(
        F.max(F.to_date(ts_col)).alias("_last"),
        F.count(F.lit(1)).alias("_freq"),
        F.sum(value_col).alias("_spend"),
    )
    maxd = purchases.agg(F.max(F.to_date(ts_col)).alias("_maxd"))
    scored = per_key.crossJoin(F.broadcast(maxd)).select(
        "key",
        F.datediff("_maxd", "_last").alias("_recency"),
        "_freq",
        "_spend",
    )
    # a key whose purchases all have NULL ts has NULL _recency; Spark's
    # default ASC window order is NULLS FIRST while DuckDB's is NULLS
    # LAST, so the ordering is pinned NULLS LAST on both engines (r10
    # advice) — undated purchasers tile worst-recency, matching the
    # "least recently seen" reading, and every downstream boundary
    # agrees across engines
    r_tile = F.ntile(n_tiles).over(
        Window.orderBy(F.col("_recency").asc_nulls_last(), F.col("key"))
    )
    f_tile = F.ntile(n_tiles).over(
        Window.orderBy(F.col("_freq").desc(), F.col("key"))
    )
    m_tile = F.ntile(n_tiles).over(
        Window.orderBy(F.col("_spend").desc(), F.col("key"))
    )
    return (
        scored.select(
            r_tile.alias("r"), f_tile.alias("f"), m_tile.alias("m")
        )
        .groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def sql_rfm_segments(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    type_col: str = "event_type",
    purchase_type: str = "purchase",
    n_tiles: int = 4,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``rfm_segments`` (same key-grain metrics, same
    tie-broken ntiles)."""
    return f"""
    WITH purchases AS (
        SELECT * FROM {table}
        WHERE ({where}) AND {type_col} = '{purchase_type}'
            AND {value_col} IS NOT NULL
    ), per_key AS (
        SELECT {key_col} AS key,
            max(CAST({ts_col} AS DATE)) AS last_d,
            count(*) AS freq,
            sum({value_col}) AS spend
        FROM purchases GROUP BY 1
    ), scored AS (
        SELECT key,
            datediff('day', last_d,
                     (SELECT max(CAST({ts_col} AS DATE)) FROM purchases))
                AS recency,
            freq, spend
        FROM per_key
    ), tiled AS (
        SELECT
            ntile({n_tiles}) OVER (ORDER BY recency NULLS LAST, key) AS r,
            ntile({n_tiles}) OVER (ORDER BY freq DESC, key) AS f,
            ntile({n_tiles}) OVER (ORDER BY spend DESC, key) AS m
        FROM scored
    )
    SELECT r, f, m, count(*) AS n_users FROM tiled GROUP BY 1, 2, 3
    """


def activity_gaps_by_key(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key activity coverage: first/last active day, the day span,
    distinct active days, missing (gap) days, and the coverage ratio —
    the engagement-density / sensor-dropout audit. One grouped
    aggregate over (key, date) distinct + one key-grain projection; no
    windows, no joins."""
    days = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).alias("key"), F.to_date(ts_col).alias("d")
        )
        .distinct()
    )
    agg = days.groupBy("key").agg(
        F.min("d").alias("_first"),
        F.max("d").alias("_last"),
        F.count(F.lit(1)).alias("active_days"),
    )
    span = F.datediff("_last", "_first") + F.lit(1)
    return agg.select(
        "key",
        F.date_format("_first", "yyyy-MM-dd").alias("first_day"),
        F.date_format("_last", "yyyy-MM-dd").alias("last_day"),
        span.alias("span_days"),
        "active_days",
        (span - F.col("active_days")).alias("missing_days"),
        F.round(
            F.col("active_days").cast("double") / span.cast("double"), 6
        ).alias("coverage"),
    )


def sql_activity_gaps_by_key(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``activity_gaps_by_key`` (same distinct-day
    aggregate, same span arithmetic)."""
    return f"""
    WITH days AS (
        SELECT DISTINCT {key_col} AS key, CAST({ts_col} AS DATE) AS d
        FROM {table} WHERE ({where}) AND {ts_col} IS NOT NULL
    ), agg AS (
        SELECT key, min(d) AS first_d, max(d) AS last_d,
            count(*) AS active_days
        FROM days GROUP BY 1
    )
    SELECT key,
        strftime(first_d, '%Y-%m-%d') AS first_day,
        strftime(last_d, '%Y-%m-%d') AS last_day,
        datediff('day', first_d, last_d) + 1 AS span_days,
        active_days,
        datediff('day', first_d, last_d) + 1 - active_days AS missing_days,
        round(CAST(active_days AS DOUBLE)
              / CAST(datediff('day', first_d, last_d) + 1 AS DOUBLE),
              6) AS coverage
    FROM agg
    """


def order_streaks(
    orders: DataFrame,
    key_col: str = "o_custkey",
    date_col: str = "o_orderdate",
) -> DataFrame:
    """Gaps-and-islands consecutive-activity streaks: for each key, the
    longest run of CONSECUTIVE calendar months with at least one order,
    rolled up to a histogram (streak_months, n_keys) — the
    engagement-consistency readout (distinct from activity_gaps_by_key,
    which measures day coverage, not consecutiveness).

    The classic islands trick, fully parallel by key: distinct
    (key, month_index) rows; island id = month_index − row_number()
    (constant within a consecutive run); run length = count per
    (key, island); longest = max per key. Three combinable aggregates
    + one per-key window — no joins, no global sort."""
    from pyspark.sql import Window

    months = (
        orders.filter(F.col(date_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            (
                F.year(date_col) * 12 + F.month(date_col)
            ).alias("m_idx"),
        )
        .distinct()
    )
    w = Window.partitionBy("key").orderBy("m_idx")
    islands = months.select(
        "key",
        (F.col("m_idx") - F.row_number().over(w)).alias("island"),
    )
    runs = islands.groupBy("key", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    longest = runs.groupBy("key").agg(
        F.max("run_len").alias("streak_months")
    )
    return longest.groupBy("streak_months").agg(
        F.count(F.lit(1)).alias("n_keys")
    )


def sql_order_streaks(
    table: str = "orders",
    key_col: str = "o_custkey",
    date_col: str = "o_orderdate",
) -> str:
    """DuckDB replay of ``order_streaks`` (same month index, same
    islands difference)."""
    return f"""
    WITH months AS (
        SELECT DISTINCT {key_col} AS key,
            year({date_col}) * 12 + month({date_col}) AS m_idx
        FROM {table} WHERE {date_col} IS NOT NULL
    ), islands AS (
        SELECT key,
            m_idx - row_number() OVER (PARTITION BY key ORDER BY m_idx)
                AS island
        FROM months
    ), runs AS (
        SELECT key, island, count(*) AS run_len
        FROM islands GROUP BY 1, 2
    ), longest AS (
        SELECT key, max(run_len) AS streak_months FROM runs GROUP BY key
    )
    SELECT CAST(streak_months AS BIGINT) AS streak_months,
        count(*) AS n_keys
    FROM longest GROUP BY 1
    """


def cohort_ltv(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_where: Column | None = None,
    granularity: str = "week",
) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion of
    cohort_retention: users are cohorted by the ``granularity`` bucket
    ('day' / 'week' / 'month') of their FIRST event (any type —
    acquisition), and each cohort's cumulative value per acquired user
    is tracked by age in buckets (``age = 0`` is the acquisition
    bucket). ``value_where`` restricts which events MONETIZE (e.g.
    purchases only); the cohort assignment always uses every event, so
    a user who only ever viewed still dilutes the denominator — that
    is what "per acquired user" means.

    Returns (cohort_start, age, n_users, period_value, cum_value,
    ltv) where cohort_start renders the bucket's first calendar day,
    ltv = cum_value / n_users, money rounded 4dp.

    Scale shape: one map-side-combinable min(bucket) fold at user
    grain, one fact pass joined to the (user, cohort) frame on the
    user key, a (cohort, age) fold — dimension-grain from here — and
    the cumulative window partitioned by cohort over <= periods rows.
    Bucket arithmetic is integer days-since-epoch (weeks = floor(d/7),
    months = year*12+month), exact on both engines — no
    months_between float semantics."""
    if granularity not in ("day", "week", "month"):
        raise ValueError(f"unknown granularity {granularity!r}")
    epoch = F.lit("1970-01-01").cast("date")
    dd = F.datediff(F.to_date(F.col(ts_col)), epoch)
    if granularity == "day":
        bucket = dd
        start = F.date_add(epoch, F.col("_cm"))
    elif granularity == "week":
        bucket = F.floor(dd / 7).cast("int")
        start = F.date_add(epoch, F.col("_cm") * 7)
    else:
        bucket = (
            F.year(F.col(ts_col)) * 12 + F.month(F.col(ts_col)) - 1
        ).cast("int")
        # year lpad'd to 4: ANSI to_date rejects 3-digit years and the
        # oracle renders '0985-...' (r11 review)
        start = F.to_date(
            F.concat_ws(
                "-",
                F.lpad(
                    F.floor(F.col("_cm") / 12).cast("int").cast("string"),
                    4,
                    "0",
                ),
                F.lpad((F.col("_cm") % 12 + 1).cast("string"), 2, "0"),
                F.lit("01"),
            )
        )
    firsts = (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(user_col)
        .agg(F.min(bucket).alias("_cm"))
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    firsts = pooled_persist(firsts)
    cohort_sizes = firsts.groupBy("_cm").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    monetized = events.filter(F.col(ts_col).isNotNull())
    if value_where is not None:
        monetized = monetized.filter(value_where)
    per_age = (
        monetized.filter(F.col(value_col).isNotNull())
        .join(firsts, [user_col])
        .select(
            F.col("_cm"),
            (bucket - F.col("_cm")).alias("age"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy("_cm", "age")
        .agg(F.sum("_v").alias("_pv"))
    )
    w = (
        Window.partitionBy("_cm")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = per_age.select(
        "_cm",
        "age",
        F.col("_pv"),
        F.sum("_pv").over(w).alias("_cv"),
    ).join(F.broadcast(cohort_sizes), ["_cm"])
    return curve.select(
        start.cast("string").alias("cohort_start"),
        "age",
        "n_users",
        F.round("_pv", 4).alias("period_value"),
        F.round("_cv", 4).alias("cum_value"),
        F.round(F.col("_cv") / F.col("n_users"), 4).alias("ltv"),
    )


def sql_cohort_ltv(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_where: str = "1=1",
    granularity: str = "week",
) -> str:
    """DuckDB replay of ``cohort_ltv`` (same integer bucket encoding,
    same any-event cohorting / filtered monetization split)."""
    if granularity == "day":
        bucket = f"date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE))"
        start = "CAST(DATE '1970-01-01' + c._cm AS VARCHAR)"
    elif granularity == "week":
        bucket = (
            "CAST(floor(date_diff('day', DATE '1970-01-01',"
            f" CAST({ts_col} AS DATE)) / 7) AS INT)"
        )
        start = "CAST(DATE '1970-01-01' + c._cm * 7 AS VARCHAR)"
    elif granularity == "month":
        bucket = f"CAST(year({ts_col}) * 12 + month({ts_col}) - 1 AS INT)"
        # year zero-padded to 4 so a junk year-985 timestamp renders
        # identically to Spark's date-cast '0985-03-01' (r11 review)
        start = (
            "lpad(CAST(CAST(floor(c._cm / 12) AS INT) AS VARCHAR), 4, '0')"
            " || '-' || lpad(CAST(c._cm % 12 + 1 AS VARCHAR), 2, '0')"
            " || '-01'"
        )
    else:
        raise ValueError(f"unknown granularity {granularity!r}")
    return f"""
    WITH firsts AS (
        SELECT {user_col} AS u, min({bucket}) AS _cm
        FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1
    ),
    sizes AS (SELECT _cm, count(*) AS n_users FROM firsts GROUP BY _cm),
    per_age AS (
        SELECT f._cm, ({bucket}) - f._cm AS age,
            sum(CAST({value_col} AS DOUBLE)) AS _pv
        FROM {table} e JOIN firsts f ON e.{user_col} = f.u
        WHERE e.{ts_col} IS NOT NULL AND ({value_where})
              AND e.{value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    curve AS (
        SELECT _cm, age, _pv,
            sum(_pv) OVER (PARTITION BY _cm ORDER BY age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cv
        FROM per_age
    )
    SELECT {start} AS cohort_start,
        c.age, s.n_users,
        round(c._pv, 4) AS period_value,
        round(c._cv, 4) AS cum_value,
        round(c._cv / s.n_users, 4) AS ltv
    FROM curve c JOIN sizes s ON c._cm = s._cm
    """


def funnel_time_to_convert(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    within: str | None = None,
    qs: Sequence[float] = (0.25, 0.5, 0.9),
) -> DataFrame:
    """Time-to-convert distribution for the users who complete the
    funnel — the latency half of the conversion readout (counts say
    HOW MANY convert; this says HOW LONG the journey takes, which is
    what SLAs, nudge timing, and within-window tuning read). Shares
    :func:`_funnel_reach`'s greedy first-touch fill with funnel_steps,
    so "converted" means exactly the users funnel_steps counts at the
    last step; the latency is last-step reach minus step-1 reach in
    whole seconds (exact integer on both engines).

    Returns ONE row: (n_converted, mean_s, then one ``q_<pct>`` column
    per requested quantile — nearest-rank, the group_quantiles
    convention). Scale: the reach frame is ONE user-keyed Exchange
    (the funnel fold itself); the quantile window then sorts only the
    CONVERTED-user latencies — a frame conversion-rate-times smaller
    than the log. For corpus-scale converted sets swap the exact
    window for sketches.binned_quantiles (the documented mergeable
    flavor)."""
    if len(steps) < 2:
        raise ValueError("time-to-convert needs at least two steps")
    k = len(steps)
    per_user = _funnel_reach(df, steps, ts_col, key_col, type_col, within)
    lat = per_user.filter(
        F.expr(f"_reach[{k - 1}] IS NOT NULL")
    ).selectExpr(
        f"unix_timestamp(_reach[{k - 1}]) - unix_timestamp(_reach[0])"
        " AS secs"
    )
    ranked = lat.select(
        "secs",
        F.row_number().over(Window.orderBy("secs")).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_n"),
    )
    aggs = [
        F.max("_n").alias("n_converted"),
        F.round(F.avg("secs"), 2).alias("mean_s"),
    ]
    # nearest rank via the family's shared exact-integer definition
    # (sketches.exact_nearest_rank — float ceil(q*n) overshoots by one
    # ulp at e.g. 0.9*10); labels via _q_label so q=0.125 cannot
    # collide with q=0.12 (r11 second review)
    from asctb_ct_label_mapper_spark.operators.sketches import (
        exact_nearest_rank,
    )

    labels = [_q_label(q) for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantile labels from qs={qs!r}")
    for q, label in zip(qs, labels):
        num, den = exact_nearest_rank(q)
        aggs.append(
            F.max(
                F.when(
                    F.col("_rn")
                    == F.expr(f"({num} * _n + {den} - 1) DIV {den}"),
                    F.col("secs"),
                )
            ).alias(label)
        )
    out = ranked.agg(*aggs)
    # empty converted set: n_converted = 0 (not NULL), quantiles NULL
    return out.select(
        F.coalesce(F.col("n_converted"), F.lit(0)).alias("n_converted"),
        "mean_s",
        *labels,
    )


def sql_funnel_time_to_convert(
    table: str = "events",
    steps: Sequence[str] = ("signup", "view", "purchase"),
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    where: str = "1=1",
    within: str | None = None,
    qs: Sequence[float] = (0.25, 0.5, 0.9),
) -> str:
    """DuckDB replay of ``funnel_time_to_convert`` — the chained
    min-after CTEs (sql_funnel_steps' plan) give the same first-touch
    reach times, then the same nearest-rank quantile arithmetic."""
    ctes = [
        f"s1 AS (SELECT {key_col} AS key, min({ts_col}) AS t FROM {table} "
        f"WHERE ({where}) AND {type_col} = '{steps[0]}' GROUP BY {key_col})"
    ]
    for i, s in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.{key_col} AS key, min(e.{ts_col}) AS t "
            f"FROM {table} e JOIN s{i - 1} p ON e.{key_col} = p.key "
            f"WHERE ({where}) AND e.{type_col} = '{s}' AND e.{ts_col} > p.t "
            + (
                f"AND e.{ts_col} <= p.t + INTERVAL {within} "
                if within is not None
                else ""
            )
            + f"GROUP BY e.{key_col})"
        )
    k = len(steps)
    from asctb_ct_label_mapper_spark.operators.sketches import (
        exact_nearest_rank,
    )

    qcols = []
    for q in qs:
        num, den = exact_nearest_rank(q)
        qcols.append(
            f"max(CASE WHEN _rn = ({num} * _n"
            f" + {den} - 1) // {den}"
            f" THEN secs END) AS {_q_label(q)}"
        )
    return f"""
    WITH {', '.join(ctes)},
    lat AS (
        SELECT date_diff('second', s1.t, s{k}.t) AS secs
        FROM s{k} JOIN s1 ON s{k}.key = s1.key
    ),
    ranked AS (
        SELECT secs,
            row_number() OVER (ORDER BY secs) AS _rn,
            count(*) OVER () AS _n
        FROM lat
    )
    SELECT CAST(coalesce(max(_n), 0) AS BIGINT) AS n_converted,
        round(avg(secs), 2) AS mean_s,
        {', '.join(qcols)}
    FROM ranked
    """


# ---------------------------------------------------------------------------
# r11e: product-analytics decompositions — new vs returning, stickiness,
# power-user curve
# ---------------------------------------------------------------------------

def new_vs_returning_daily(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily active users decomposed into FIRST-SEEN vs RETURNING — the
    growth-accounting readout under every DAU chart (is the line new
    acquisition or retention?).

    Plan (r14, guide §2.4 joinless fold — the KM/Nelson-Aalen shape):
    ONE key-grain ``collect_set(day)`` aggregate off the raw scan
    (map-side partial dedup), then the first day is ``array_min`` and
    the day decomposition an in-row explode — no distinct pass, no
    first-day join, no persist. Two Exchanges total (key fold, day
    fold) where the join formulation paid four. Returns
    (d, active_users, new_users, returning_users) for active days."""
    per_key = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(
            F.col(key_col).alias("key"), F.to_date(ts_col).alias("d")
        )
        .groupBy("key")
        .agg(F.collect_set("d").alias("_ds"))
    )
    exploded = per_key.select(
        F.array_min("_ds").alias("d0"), F.explode("_ds").alias("d")
    )
    return exploded.groupBy("d").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum((F.col("d") == F.col("d0")).cast("long")).alias(
            "new_users"
        ),
        F.sum((F.col("d") != F.col("d0")).cast("long")).alias(
            "returning_users"
        ),
    )


def sql_new_vs_returning_daily(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of :func:`new_vs_returning_daily`."""
    return f"""
    WITH pairs AS (
        SELECT DISTINCT CAST({ts_col} AS DATE) AS d, {key_col} AS key
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
    ), first AS (
        SELECT key, min(d) AS d0 FROM pairs GROUP BY 1
    )
    SELECT pairs.d, count(*) AS active_users,
        sum(CASE WHEN pairs.d = first.d0 THEN 1 ELSE 0 END) AS new_users,
        sum(CASE WHEN pairs.d <> first.d0 THEN 1 ELSE 0 END)
            AS returning_users
    FROM pairs JOIN first USING (key)
    GROUP BY 1
    """


def stickiness_monthly(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Monthly stickiness = avg(DAU)/MAU — the habit metric (what
    fraction of the month's users show up on an average day). Both
    numerator and denominator are EXACT distinct counts derived from
    ONE deduplicated (day, key) frame: DAU re-aggregates it per day,
    MAU per month — the fact table is scanned once.

    Returns (month, mau, avg_dau, stickiness) per calendar month, 6dp;
    avg(DAU) averages over the month's ACTIVE days (documented choice —
    zero-activity days would need the calendar spine, and a month with
    zero activity has no MAU to divide by anyway)."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    pairs = pooled_persist(
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(
            F.to_date(ts_col).alias("d"), F.col(key_col).alias("key")
        )
        .distinct()
    )
    dau = pairs.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    dau_m = dau.groupBy(F.date_trunc("month", "d").cast("date").alias("month")).agg(
        F.avg("dau").alias("avg_dau")
    )
    mau = pairs.groupBy(
        F.date_trunc("month", "d").cast("date").alias("month")
    ).agg(F.count_distinct("key").alias("mau"))
    return (
        mau.join(dau_m, "month")
        .select(
            "month",
            "mau",
            F.round("avg_dau", 6).alias("avg_dau"),
            F.round(F.col("avg_dau") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )


def sql_stickiness_monthly(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of :func:`stickiness_monthly`."""
    return f"""
    WITH pairs AS (
        SELECT DISTINCT CAST({ts_col} AS DATE) AS d, {key_col} AS key
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
    ), dau AS (
        SELECT d, count(*) AS dau FROM pairs GROUP BY 1
    ), dau_m AS (
        SELECT date_trunc('month', d)::DATE AS month, avg(dau) AS avg_dau
        FROM dau GROUP BY 1
    ), mau AS (
        SELECT date_trunc('month', d)::DATE AS month,
               count(DISTINCT key) AS mau
        FROM pairs GROUP BY 1
    )
    SELECT month, mau, round(avg_dau, 6) AS avg_dau,
        round(avg_dau / mau, 6) AS stickiness
    FROM mau JOIN dau_m USING (month)
    """


def power_user_curve(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Power-user curve: histogram of ACTIVE DAYS per user per month
    (the L-curve / smile chart — a right-shifted hump means a habit
    product, a wall at 1 means drive-by traffic). Fixed integer
    buckets (1, 2-3, 4-7, 8-15, 16+) keep the readout deterministic
    and engine-identical.

    Plan: the same single deduplicated (day, key) frame as the
    stickiness family, a (month, key) fold, then a bucket-grain
    histogram. Returns (month, days_bucket, users)."""
    pairs = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(
            F.to_date(ts_col).alias("d"), F.col(key_col).alias("key")
        )
        .distinct()
    )
    per = pairs.groupBy(
        F.date_trunc("month", "d").cast("date").alias("month"), "key"
    ).agg(F.count(F.lit(1)).alias("days"))
    bucket = (
        F.when(F.col("days") <= 1, "1")
        .when(F.col("days") <= 3, "2-3")
        .when(F.col("days") <= 7, "4-7")
        .when(F.col("days") <= 15, "8-15")
        .otherwise("16+")
    )
    return per.groupBy("month", bucket.alias("days_bucket")).agg(
        F.count(F.lit(1)).alias("users")
    )


def sql_power_user_curve(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of :func:`power_user_curve` — same buckets."""
    return f"""
    WITH pairs AS (
        SELECT DISTINCT CAST({ts_col} AS DATE) AS d, {key_col} AS key
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
    ), per AS (
        SELECT date_trunc('month', d)::DATE AS month, key,
               count(*) AS days
        FROM pairs GROUP BY 1, 2
    )
    SELECT month,
        CASE WHEN days <= 1 THEN '1'
             WHEN days <= 3 THEN '2-3'
             WHEN days <= 7 THEN '4-7'
             WHEN days <= 15 THEN '8-15'
             ELSE '16+' END AS days_bucket,
        count(*) AS users
    FROM per
    GROUP BY 1, 2
    """


def churn_rate_periodic(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "month",
) -> DataFrame:
    """Periodic churn: of the users active in period p, the fraction
    with NO activity in period p+1 — the attrition readout dual to the
    retention cohort matrix (cohort_retention tracks a cohort forward;
    churn conditions on the previous period's whole active base).
    ``period`` is 'month' or 'week' (date_trunc units, engine-aligned).

    The last observed period has no p+1 and is excluded (its churn is
    not yet knowable — the standard right-censoring rule, same as
    kaplan_meier's).

    Plan: ONE deduplicated (period, key) frame (the stickiness family's
    shape, persisted), a self left-join shifted one period on the
    co-partitioned key, then a period-grain fold. Returns
    (month, mau, churned, churn_rate), 6dp."""
    if period not in ("month", "week"):
        raise ValueError(f"unknown period {period!r}")
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    pairs = pooled_persist(
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(
            F.date_trunc(period, ts_col).cast("date").alias("month"),
            F.col(key_col).alias("key"),
        )
        .distinct()
    )
    shift = (
        F.add_months(F.col("month"), -1)
        if period == "month"
        else F.date_sub(F.col("month"), 7)
    )
    nxt = pairs.select(
        shift.alias("month_n"),
        F.col("key").alias("key2"),
    )
    last = pairs.agg(F.max("month").alias("last_m"))
    flagged = pairs.join(
        nxt,
        (pairs["month"] == nxt["month_n"]) & (pairs["key"] == nxt["key2"]),
        "left",
    )
    return (
        flagged.crossJoin(F.broadcast(last))
        .filter(F.col("month") < F.col("last_m"))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("mau"),
            F.sum(F.col("key2").isNull().cast("long")).alias("churned"),
        )
        .select(
            "month",
            "mau",
            "churned",
            F.round(F.col("churned") / F.col("mau"), 6).alias(
                "churn_rate"
            ),
        )
    )


def sql_churn_rate_periodic(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "month",
) -> str:
    """DuckDB replay of :func:`churn_rate_periodic` — validates
    ``period`` like its Spark twin (an unknown unit would otherwise
    emit plausible-looking wrong SQL; r11 second review finding)."""
    if period not in ("month", "week"):
        raise ValueError(f"unknown period {period!r}")
    step = "INTERVAL 1 MONTH" if period == "month" else "INTERVAL 7 DAY"
    return f"""
    WITH pairs AS (
        SELECT DISTINCT date_trunc('{period}', {ts_col})::DATE AS month,
               {key_col} AS key
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
    ), nxt AS (
        SELECT (month - {step})::DATE AS month, key AS key2
        FROM pairs
    ), last AS (SELECT max(month) AS last_m FROM pairs)
    SELECT pairs.month, count(*) AS mau,
        sum(CASE WHEN nxt.key2 IS NULL THEN 1 ELSE 0 END) AS churned,
        round(sum(CASE WHEN nxt.key2 IS NULL THEN 1 ELSE 0 END)
              * 1.0 / count(*), 6) AS churn_rate
    FROM pairs
    LEFT JOIN nxt ON pairs.month = nxt.month AND pairs.key = nxt.key2
    CROSS JOIN last
    WHERE pairs.month < last.last_m
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# r12f: Markov steady state — where the event mix settles
# ---------------------------------------------------------------------------


# transition matrices past this many cells raise GroupBoundExceeded
# instead of folding on the driver: the Markov operators are dimension grain
LOCAL_TRANSITION_ROWS = 100_000


def _markov_chain_fold(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    type_col: str,
    id_col: str,
    iters: int,
    label: str,
):
    """THE shared driver fold behind :func:`markov_steady_state` and
    :func:`markov_entropy_rate`: the transition matrix fetched through
    :func:`dq.fetch_bounded` (``LOCAL_TRANSITION_ROWS``; ONE job — the
    fact-grain lead window runs once), then the L1-renormalized power
    iteration.  Returns (cells, states, pi) — cells sorted
    (from, to, 6dp-p), states sorted, pi aligned to states."""
    tm = markov_transitions(df, ts_col, key_col, type_col, id_col)
    probe = fetch_bounded(
        tm, ["from_type", "to_type", "p"], LOCAL_TRANSITION_ROWS, label
    ).to_pylist()
    cells = sorted(
        ((r["from_type"], r["to_type"], float(r["p"])) for r in probe),
        key=lambda t: (t[0], t[1]),
    )
    states = sorted({c[0] for c in cells} | {c[1] for c in cells})
    if not states:
        return cells, states, []
    idx = {s: i for i, s in enumerate(states)}
    n = len(states)
    pi = [1.0 / n] * n
    for _ in range(iters):
        nxt = [0.0] * n
        for frm, to, p in cells:
            nxt[idx[to]] += pi[idx[frm]] * p
        tot = sum(nxt)
        pi = [v / tot for v in nxt] if tot > 0 else [1.0 / n] * n
    return cells, states, pi


def markov_steady_state(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iters: int = 30,
) -> DataFrame:
    """Long-run state distribution of the :func:`markov_transitions`
    chain: iterate π ← πP from uniform over the observed states,
    renormalizing each step (states with no outgoing pairs leak mass;
    L1 renormalization keeps π a distribution — both engines replay
    the identical division) — "if users keep behaving like this, what
    share of activity lands on each event type", the one-number-per-
    state summary the full transition matrix only implies.

    Plan: the transition matrix is |types|² rows (dimension grain); the
    iteration folds on the DRIVER over the collected matrix under the
    bounded-read contract (``dq.GroupBoundExceeded`` past
    ``LOCAL_TRANSITION_ROWS`` — the graph-module hits/k_core seam). Returns
    (state, pi), 6dp."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    cells, states, pi = _markov_chain_fold(
        df, ts_col, key_col, type_col, id_col, iters, "markov_steady_state",
    )
    schema = StructType(
        [
            StructField("state", df.schema[type_col].dataType, True),
            StructField("pi", DoubleType(), True),
        ]
    )
    if not states:
        return df.sparkSession.createDataFrame([], schema)
    return df.sparkSession.createDataFrame(
        [(s, round(pi[i], 6)) for i, s in enumerate(states)], schema
    )


def _sql_markov_chain(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iters: int = 30,
) -> str:
    """The shared CTE CHAIN (no final select) behind
    :func:`sql_markov_steady_state` and :func:`sql_markov_entropy_rate`
    (r12 second review pass: the entropy oracle used to rsplit the
    steady-state SQL on its final SELECT text — string surgery that
    breaks silently on any rewording): the transition CTE (6dp p,
    matching the Spark side's rounded matrix) and the power iteration
    UNROLLED into chained MATERIALIZED CTEs (the sql_pagerank/sql_hits
    precedent, including the re-inlining pin)."""
    parts = [
        f"""
    tm AS MATERIALIZED (
        SELECT from_type, to_type,
            round(CAST(n AS DOUBLE)
                  / sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM (
            SELECT from_type, to_type, count(*) AS n FROM (
                SELECT {type_col} AS from_type,
                    lead({type_col}) OVER (PARTITION BY {key_col}
                        ORDER BY {ts_col}, {id_col}) AS to_type
                FROM {table} WHERE {ts_col} IS NOT NULL
            ) WHERE from_type IS NOT NULL AND to_type IS NOT NULL
            GROUP BY 1, 2
        )
    ),
    states AS MATERIALIZED (
        SELECT DISTINCT s FROM (
            SELECT from_type AS s FROM tm
            UNION ALL SELECT to_type FROM tm
        )
    ),
    p0 AS MATERIALIZED (
        SELECT s, 1.0 / (SELECT count(*) FROM states) AS pi FROM states
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    p{t}_raw AS MATERIALIZED (
        SELECT states.s, coalesce(v.v, 0.0) AS v
        FROM states LEFT JOIN (
            SELECT tm.to_type AS s, sum(p.pi * tm.p) AS v
            FROM tm JOIN p{t - 1} p ON tm.from_type = p.s
            GROUP BY 1
        ) v ON states.s = v.s
    ),
    p{t} AS MATERIALIZED (
        SELECT s, CASE WHEN tot.t > 0 THEN v / tot.t
                       ELSE 1.0 / (SELECT count(*) FROM states) END AS pi
        FROM p{t}_raw CROSS JOIN (
            SELECT sum(v) AS t FROM p{t}_raw
        ) tot
    )""")
    return ",".join(parts)


def sql_markov_steady_state(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iters: int = 30,
) -> str:
    """DuckDB replay of :func:`markov_steady_state` — the shared
    :func:`_sql_markov_chain` CTEs plus the state/π projection."""
    return (
        _sql_markov_chain(table, ts_col, key_col, type_col, id_col, iters)
        + f"""
    SELECT s AS state, round(pi, 6) AS pi FROM p{iters}
    """
    )


# ---------------------------------------------------------------------------
# r12h: shifted-beta-geometric retention projection (Fader-Hardie)
# ---------------------------------------------------------------------------


def _user_weeks(df: DataFrame, ts_col: str, user_col: str) -> DataFrame:
    """THE anchored (user, week) DISTINCT fold shared by
    :func:`sbg_retention_projection` and :func:`audience_overlap_weekly`
    (r12 second review pass — two inline copies of the same
    bounds/floor(datediff/7)/distinct construction is the _daily_pair
    drift class): weeks are 7-day windows anchored at the first event
    day.  One fact pass; returns (u, wk int)."""
    base = df.filter(F.col(ts_col).isNotNull())
    bounds = base.agg(F.min(F.to_date(ts_col)).alias("_d0"))
    return (
        base.crossJoin(F.broadcast(bounds))
        .select(
            F.col(user_col).alias("u"),
            F.floor(
                F.datediff(F.to_date(ts_col), F.col("_d0")) / F.lit(7)
            ).cast("int").alias("wk"),
        )
        .distinct()
    )


def _sql_user_weeks(table: str, ts_col: str, user_col: str) -> str:
    """DuckDB twin of :func:`_user_weeks` — emits the ``bounds`` +
    ``uw`` CTE bodies (caller wraps in WITH)."""
    return f"""bounds AS (
        SELECT CAST(min({ts_col}) AS DATE) AS _d0 FROM {table}
        WHERE {ts_col} IS NOT NULL
    ), uw AS (
        SELECT DISTINCT {user_col} AS u,
            CAST(floor(datediff('day', bounds._d0,
                                CAST({ts_col} AS DATE)) / 7.0) AS INT)
                AS wk
        FROM {table} CROSS JOIN bounds
        WHERE {ts_col} IS NOT NULL
    )"""


def sbg_retention_projection(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    horizon: int = 6,
) -> DataFrame:
    """Project the week-0 cohort's retention curve with the
    shifted-beta-geometric model (Fader & Hardie, "How to project
    customer retention"): each user has a latent weekly churn
    probability θ ~ Beta(α, β), giving survival

        S(t) = S(t−1) · (β + t − 1) / (α + β + t − 1),   S(0) = 1

    — retention RATES RISE over time as the flaky users wash out, the
    empirical signature a constant-rate geometric model cannot fit
    (and the reason naive "average churn" extrapolations are always
    too pessimistic). α, β come from the first two observed survival
    shares in CLOSED FORM (u = S₁, v = S₂/S₁):

        β = u(1 − v)/(v − u),   α = β(1 − u)/u

    valid when v > u (rising retention — the sBG regime); flat or
    falling early retention degrades the fit to NULL via the shared
    guard on both engines rather than extrapolating a model whose
    premise the data rejects.

    Plan: one (user, week) distinct fold (the only fact pass), the
    week-0 cohort filter, a week-grain share aggregate, a 1-row
    closed-form solve, and a ``horizon``-row unrolled product grid.
    Returns (week, s_observed, s_projected), 6dp — observed NULL past
    the data window, projected NULL when the sBG regime fails."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    user_weeks = pooled_persist(_user_weeks(df, ts_col, user_col))
    cohort = user_weeks.groupBy("u").agg(F.min("wk").alias("_w0")).filter(
        F.col("_w0") == 0
    ).select("u")
    shares = (
        user_weeks.join(cohort, "u")
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    n_cohort = cohort.count()
    obs = shares.select(
        "wk",
        (F.col("n_active") / F.lit(float(n_cohort))).alias("s_obs"),
    )
    s1s2 = (
        obs.filter(F.col("wk").isin(1, 2))
        .agg(
            F.max(F.when(F.col("wk") == 1, F.col("s_obs"))).alias("_s1"),
            F.max(F.when(F.col("wk") == 2, F.col("s_obs"))).alias("_s2"),
        )
    )
    u = F.col("_s1")
    v = F.try_divide(F.col("_s2"), F.col("_s1"))
    beta = F.when(
        v > u, F.try_divide(u * (1.0 - v), v - u)
    )
    alpha = F.try_divide(beta * (1.0 - u), u)
    params = s1s2.select(alpha.alias("_a"), beta.alias("_b"))
    spark = df.sparkSession
    grid = spark.range(0, horizon + 1).select(
        F.col("id").cast("int").alias("week")
    )
    # unrolled survival product: S(t) = Π_{i=1..t} (β+i−1)/(α+β+i−1)
    s_proj = F.lit(1.0)
    for i in range(1, horizon + 1):
        term = (F.col("_b") + (i - 1)) / (F.col("_a") + F.col("_b") + (i - 1))
        s_proj = F.when(F.col("week") >= i, s_proj * term).otherwise(s_proj)
    # in-window weeks with ZERO active cohort users are genuine 0.0
    # observations; only weeks beyond the data window are NULL (r12
    # second review pass — NULL used to conflate "missing" with "total
    # churn")
    maxwk = user_weeks.agg(
        F.max("wk").cast("int").alias("_maxwk")
    )
    return (
        grid.crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(maxwk))
        .join(obs.select(F.col("wk").cast("int").alias("week"), "s_obs"),
              "week", "left")
        .select(
            "week",
            F.round(
                F.when(
                    F.col("week") <= F.col("_maxwk"),
                    F.coalesce("s_obs", F.lit(0.0)),
                ),
                6,
            ).alias("s_observed"),
            F.round(s_proj, 6).alias("s_projected"),
        )
        .orderBy("week")
    )


def sql_sbg_retention_projection(
    table: str = "events",
    ts_col: str = "ts",
    user_col: str = "user_id",
    horizon: int = 6,
) -> str:
    """DuckDB replay of :func:`sbg_retention_projection` — same cohort,
    shares, closed-form solve, and unrolled survival product."""
    prods = []
    for t in range(0, horizon + 1):
        factors = " * ".join(
            f"((_b + {i - 1}) / (_a + _b + {i - 1}))"
            for i in range(1, t + 1)
        ) or "1.0"
        prods.append(f"SELECT {t} AS week, {factors} AS sp FROM params")
    proj_union = "\n        UNION ALL ".join(prods)
    return f"""
    WITH {_sql_user_weeks(table, ts_col, user_col)}, cohort AS (
        SELECT u FROM uw GROUP BY u HAVING min(wk) = 0
    ), obs AS (
        SELECT wk,
            count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM cohort)
                AS s_obs
        FROM uw JOIN cohort USING (u)
        GROUP BY wk
    ), s1s2 AS (
        SELECT
            max(CASE WHEN wk = 1 THEN s_obs END) AS _s1,
            max(CASE WHEN wk = 2 THEN s_obs END) AS _s2
        FROM obs
    ), params AS (
        SELECT
            CASE WHEN _s2 / nullif(_s1, 0.0) > _s1
                 THEN (_s1 * (1.0 - _s2 / nullif(_s1, 0.0)))
                      / nullif(_s2 / nullif(_s1, 0.0) - _s1, 0.0)
            END * (1.0 - _s1) / nullif(_s1, 0.0) AS _a,
            CASE WHEN _s2 / nullif(_s1, 0.0) > _s1
                 THEN (_s1 * (1.0 - _s2 / nullif(_s1, 0.0)))
                      / nullif(_s2 / nullif(_s1, 0.0) - _s1, 0.0)
            END AS _b
        FROM s1s2
    ), proj AS (
        {proj_union}
    )
    SELECT CAST(proj.week AS INT) AS week,
        round(CASE WHEN proj.week <= (SELECT max(wk) FROM uw)
                   THEN coalesce(obs.s_obs, 0.0) END, 6) AS s_observed,
        round(proj.sp, 6) AS s_projected
    FROM proj LEFT JOIN obs ON obs.wk = proj.week
    ORDER BY week
    """


def markov_entropy_rate(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iters: int = 30,
) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain:

        H = −Σ_i π_i Σ_j p_ij ln p_ij        (nats/step)

    with π the :func:`markov_steady_state` distribution — how
    PREDICTABLE the next event is once the chain has mixed, in one
    number: H = 0 is a deterministic loop, ln|types| is uniform
    chaos. ``perplexity = e^H`` reads as "effective branching factor"
    (the language-model convention, same units as the bigram-ppl text
    readout). The one-number summary on top of the transition matrix /
    steady-state pair.

    Plan: the steady-state driver fold (one bounded read, one fact
    pass) plus a cell-grain entropy sum folded on the same
    collected cells. Returns one row (n_states, entropy_nats,
    perplexity), 6dp."""
    import math

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    cells, states, pi = _markov_chain_fold(
        df, ts_col, key_col, type_col, id_col, iters, "markov_entropy_rate",
    )
    schema = StructType(
        [
            StructField("n_states", LongType(), True),
            StructField("entropy_nats", DoubleType(), True),
            StructField("perplexity", DoubleType(), True),
        ]
    )
    if not states:
        # one (0, NULL, NULL) row — the oracle's ungrouped aggregate
        # over an empty chain emits exactly one row, not zero (r12
        # second review pass)
        return df.sparkSession.createDataFrame([(0, None, None)], schema)
    idx = {s: i for i, s in enumerate(states)}
    h = -sum(
        pi[idx[frm]] * p * math.log(p) for frm, _, p in cells if p > 0
    )
    return df.sparkSession.createDataFrame(
        [(len(states), round(h, 6), round(math.exp(h), 6))], schema
    )


def sql_markov_entropy_rate(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    iters: int = 30,
) -> str:
    """DuckDB replay of :func:`markov_entropy_rate` — the shared
    :func:`_sql_markov_chain` CTEs (UNROUNDED π) with the entropy fold
    as the final select.  π stays raw here: the Spark fold never
    rounds π internally either — only the steady-state QUERY's output
    does."""
    return (
        _sql_markov_chain(table, ts_col, key_col, type_col, id_col, iters)
        + f"""
    SELECT (SELECT count(*) FROM states) AS n_states,
        round(-sum(p.pi * tm.p * ln(tm.p)), 6) AS entropy_nats,
        round(exp(-sum(p.pi * tm.p * ln(tm.p))), 6) AS perplexity
    FROM tm JOIN p{iters} p ON tm.from_type = p.s
    WHERE tm.p > 0
    """
    )


# ---------------------------------------------------------------------------
# r12i: week-over-week audience overlap — the exact sibling of the KMV
# set-op estimates
# ---------------------------------------------------------------------------


def audience_overlap_weekly(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Exact Jaccard overlap of the ACTIVE-USER sets of consecutive
    weeks: |W_t ∩ W_{t+1}| / |W_t ∪ W_{t+1}| plus the directional
    retention share (the stickiness_monthly construction at week
    grain, and the EXACT ground truth the kmv_setops_user_days sketch
    estimates).  Weeks are 7-day windows anchored at the first event
    day (the sbg/gumbel block convention).

    Plan: one (user, week) DISTINCT fold (the only fact pass), a
    self-join on week = week+1 — work ∝ Σ_w |W_w| at user grain, never
    users² — and a week-grain union-size identity |A∪B| = |A|+|B|−|A∩B|
    (no second fact pass for the union). Returns
    (week_a, week_b, n_a, n_b, n_common, jaccard, retained_share),
    6dp, one row per consecutive pair."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    uw = pooled_persist(_user_weeks(df, ts_col, user_col))
    raw_sizes = uw.groupBy("wk").agg(F.count(F.lit(1)).alias("n"))
    # FULL consecutive-week spine (r12 second review pass): a week with
    # ZERO active users must still produce its pairs (jaccard 0 /
    # NULL), not silently vanish — total churn is the readout, not a
    # gap in the table
    spine = (
        raw_sizes.agg(F.min("wk").alias("lo"), F.max("wk").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("wk"))
    )
    sizes = spine.join(raw_sizes, "wk", "left").select(
        "wk", F.coalesce("n", F.lit(0)).alias("n")
    )
    a, b = uw.alias("a"), uw.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u"))
            & (F.col("b.wk") == F.col("a.wk") + 1),
        )
        .groupBy(F.col("a.wk").alias("week_a"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("wk").alias("week_a"), F.col("n").alias("n_a"))
    sb = sizes.select(
        (F.col("wk") - 1).alias("week_a"), F.col("n").alias("n_b")
    )
    j = (
        sa.join(sb, "week_a")
        .join(common, "week_a", "left")
        .select(
            "week_a",
            (F.col("week_a") + 1).alias("week_b"),
            "n_a",
            "n_b",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
        )
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return j.select(
        "week_a",
        "week_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(F.try_divide(F.col("n_common").cast("double"), union), 6)
        .alias("jaccard"),
        F.round(
            F.try_divide(F.col("n_common").cast("double"), F.col("n_a")), 6
        ).alias("retained_share"),
    ).orderBy("week_a")


def sql_audience_overlap_weekly(
    table: str = "events",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> str:
    """DuckDB replay of :func:`audience_overlap_weekly` — same anchor,
    distinct fold, self-join, and union identity."""
    return f"""
    WITH {_sql_user_weeks(table, ts_col, user_col)}, raw_sizes AS (
        SELECT wk, count(*) AS n FROM uw GROUP BY 1
    ), spine AS (
        SELECT unnest(generate_series(min(wk), max(wk)))::INT AS wk
        FROM raw_sizes
    ), sizes AS (
        SELECT spine.wk, coalesce(raw_sizes.n, 0) AS n
        FROM spine LEFT JOIN raw_sizes ON spine.wk = raw_sizes.wk
    ), common AS (
        SELECT a.wk AS week_a, count(*) AS n_common
        FROM uw a JOIN uw b ON a.u = b.u AND b.wk = a.wk + 1
        GROUP BY 1
    )
    SELECT sa.wk AS week_a, sa.wk + 1 AS week_b,
        sa.n AS n_a, sb.n AS n_b,
        coalesce(c.n_common, 0) AS n_common,
        round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
              / nullif(sa.n + sb.n - coalesce(c.n_common, 0), 0), 6)
            AS jaccard,
        round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
              / nullif(sa.n, 0), 6) AS retained_share
    FROM sizes sa
    JOIN sizes sb ON sb.wk = sa.wk + 1
    LEFT JOIN common c ON c.week_a = sa.wk
    ORDER BY week_a
    """


# ---------------------------------------------------------------------------
# r13e: circular time-of-day statistics + inter-event gap distribution
# ---------------------------------------------------------------------------


def circular_hour_stats(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Circular (directional) statistics of event time-of-day per event
    type: hour-of-day is an ANGLE (23:00 and 01:00 are 2 h apart, not
    22), so the mean and concentration must come from the resultant
    vector, not arithmetic on the hour column —

        C = Σ cos θ, S = Σ sin θ,  θ = 2π·(sec-of-day)/86400
        R̄ = sqrt(C² + S²)/n                (0 = uniform, 1 = a spike)
        mean_hour = atan2(S, C)·24/2π  (mod 24)
        Rayleigh z = n·R̄²,  p ≈ e^{−z}·(1 + (2z − z²)/(4n))

    — the 'is this event type circadian, and when does it peak' readout
    (Rayleigh's uniformity test).  ONE map-side-combinable aggregate
    per type; p clamped to [0, 1] (the first-order correction can
    poke out for tiny n).  Returns (event_type, n, mean_hour,
    resultant, rayleigh_z, p_value), 6dp."""
    sec = F.unix_timestamp(ts_col) % 86400
    theta = sec.cast("double") / 86400.0 * (2.0 * math.pi)
    per = (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(type_col).alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.cos(theta)).alias("_c"),
            F.sum(F.sin(theta)).alias("_s"),
        )
    )
    n = F.col("n").cast("double")
    rbar = F.sqrt(F.col("_c") * F.col("_c") + F.col("_s") * F.col("_s")) / n
    mean_h = (
        F.atan2(F.col("_s"), F.col("_c")) * 24.0 / (2.0 * math.pi)
    )
    mean_h24 = ((mean_h % 24.0) + 24.0) % 24.0
    z = n * rbar * rbar
    p = F.exp(-z) * (1.0 + (2.0 * z - z * z) / (4.0 * n))
    return per.select(
        "event_type",
        "n",
        F.round(mean_h24, 6).alias("mean_hour"),
        F.round(rbar, 6).alias("resultant"),
        F.round(z, 6).alias("rayleigh_z"),
        F.round(F.greatest(F.least(p, F.lit(1.0)), F.lit(0.0)), 6).alias(
            "p_value"
        ),
    ).orderBy("event_type")


def sql_circular_hour_stats(
    table: str = "events",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """DuckDB replay of :func:`circular_hour_stats` — same second-of-
    day angle, resultant arithmetic, Rayleigh correction and clamp."""
    pi = repr(math.pi)
    return f"""
    WITH per AS (
        SELECT {type_col} AS event_type,
            CAST(count(*) AS BIGINT) AS n,
            sum(cos(2.0 * {pi} * (CAST(floor(epoch({ts_col})) AS BIGINT) % 86400)
                    / 86400.0)) AS c,
            sum(sin(2.0 * {pi} * (CAST(floor(epoch({ts_col})) AS BIGINT) % 86400)
                    / 86400.0)) AS s
        FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1
    ), stat AS (
        SELECT event_type, n,
            sqrt(c * c + s * s) / n AS rbar,
            ((atan2(s, c) * 24.0 / (2.0 * {pi})) % 24.0 + 24.0) % 24.0
                AS mean_h,
            n * (sqrt(c * c + s * s) / n)
              * (sqrt(c * c + s * s) / n) AS z
        FROM per
    )
    SELECT event_type, n, round(mean_h, 6) AS mean_hour,
        round(rbar, 6) AS resultant, round(z, 6) AS rayleigh_z,
        round(greatest(least(exp(-z) * (1.0 + (2.0 * z - z * z)
            / (4.0 * n)), 1.0), 0.0), 6) AS p_value
    FROM stat ORDER BY event_type
    """


def interevent_exponential_fit(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Pooled inter-event gap distribution vs the exponential null:
    per-user consecutive gaps (seconds), MLE rate λ = 1/mean, and the
    KS distance between the empirical gap CDF and 1 − e^{−λx} —
    'is arrival Poisson, or bursty' quantified (the burstiness
    histogram's hypothesis-test sibling).

    The KS sup runs on the GAP VALUE GRAIN: one row per distinct gap
    with cumulative counts, D = max(F_hi − F_exp, F_exp − F_lo) over
    grain rows — exact (the sup of a step-vs-continuous comparison is
    attained at a step), never a per-gap sort at fact grain beyond the
    keyed lag window.  Decision flag at the asymptotic 5% band
    1.36/√n.  Returns one row (n_gaps, mean_gap_s, ks_d, reject_05),
    6dp."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    # gaps feeds the value grain AND the n/mean fold: persist or the
    # keyed lag window over the fact table runs twice (r13 review)
    gaps = pooled_persist(
        events.filter(F.col(ts_col).isNotNull())
        .select(
            user_col,
            "event_id",
            ts_col,
            (
                F.unix_timestamp(ts_col)
                - F.unix_timestamp(F.lag(ts_col, 1).over(w))
            ).alias("_g"),
        )
        .filter(F.col("_g").isNotNull())
    )
    grain = gaps.groupBy("_g").agg(F.count(F.lit(1)).alias("_t"))
    w_cum = Window.orderBy("_g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grain.select(
        "_g",
        F.sum("_t").over(w_cum).alias("_chi"),
        (F.sum("_t").over(w_cum) - F.col("_t")).alias("_clo"),
    )
    tot = gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg(F.col("_g").cast("double")).alias("mean_gap_s"),
    )
    joined = cum.crossJoin(F.broadcast(tot))
    f_exp = 1.0 - F.exp(
        -F.col("_g").cast("double") / F.col("mean_gap_s")
    )
    n = F.col("n_gaps").cast("double")
    d_row = F.greatest(
        F.col("_chi") / n - f_exp, f_exp - F.col("_clo") / n
    )
    folded = joined.agg(
        F.first("n_gaps").alias("n_gaps"),
        F.first("mean_gap_s").alias("_mg"),
        F.max(d_row).alias("_d"),
    )
    return folded.select(
        "n_gaps",
        F.round("_mg", 6).alias("mean_gap_s"),
        F.round("_d", 6).alias("ks_d"),
        (
            F.col("_d")
            > 1.36 / F.sqrt(F.col("n_gaps").cast("double"))
        ).alias("reject_05"),
    )


def sql_interevent_exponential_fit(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of :func:`interevent_exponential_fit` — same keyed
    lag, value grain and two-sided KS sup."""
    return f"""
    WITH gaps AS (
        SELECT CAST(floor(epoch({ts_col})) AS BIGINT)
            - lag(CAST(floor(epoch({ts_col})) AS BIGINT), 1) OVER (
                PARTITION BY {user_col} ORDER BY {ts_col}, event_id)
            AS g
        FROM {table} WHERE {ts_col} IS NOT NULL
        QUALIFY g IS NOT NULL
    ), grain AS (
        SELECT g, count(*) AS t FROM gaps GROUP BY 1
    ), cum AS (
        SELECT g,
            sum(t) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS chi,
            sum(t) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) - t AS clo
        FROM grain
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_gaps,
            avg(CAST(g AS DOUBLE)) AS mg
        FROM gaps
    ), folded AS (
        SELECT first(tot.n_gaps) AS n_gaps, first(tot.mg) AS mg,
            max(greatest(
                chi / CAST(tot.n_gaps AS DOUBLE)
                    - (1.0 - exp(-CAST(g AS DOUBLE) / tot.mg)),
                (1.0 - exp(-CAST(g AS DOUBLE) / tot.mg))
                    - clo / CAST(tot.n_gaps AS DOUBLE))) AS d
        FROM cum CROSS JOIN tot
    )
    SELECT n_gaps, round(mg, 6) AS mean_gap_s, round(d, 6) AS ks_d,
        d > 1.36 / sqrt(CAST(n_gaps AS DOUBLE)) AS reject_05
    FROM folded
    """
