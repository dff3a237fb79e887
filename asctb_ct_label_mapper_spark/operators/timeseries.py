"""Time-series / interval-algebra operators over the events stream.

Not in the reference (its data is static spreadsheets) — these are the
event-analytics shapes a production pipeline runs next to the curation
engine, each re-expressed so the non-windowable part is rewritten into
shuffle-bounded relational algebra:

- ``rolling_distinct_count``: COUNT(DISTINCT key) over a trailing k-day
  window per day. No engine can run a distinct inside a sliding frame
  without holding per-frame state; the scale rewrite is interval
  expansion — each (key, active-day) covers the next k report days, so
  the answer is a plain count over the k-bounded expansion, two
  hash-shuffles, zero window state.
- ``session_intervals`` / ``daily_max_concurrency``: classic sweep-line
  (+1 at session start, -1 just after session end) with the global
  running sum DECOMPOSED into per-day partial prefix sums plus a
  day-level carry — the only total-order step runs over #days rows, so
  a 100 TB event stream never funnels through one partition.
- ``ewma_by_key``: recursive exponential smoothing — not expressible as
  any frame aggregate — as a SEGMENTED scan: EWMA is the linear
  recurrence s_t = a*x_t + (1-a)*s_{t-1}, and linear recurrences compose
  associatively as affine (multiplier, addend) pairs, so each per-key
  series folds per TIME BUCKET (bounded rows per task) and the
  dimension-sized bucket list carries the composition — the same
  bucket+carry pattern as ``daily_max_concurrency``. No per-key
  unbounded ``collect_list``; a hot key with 10^8 events never
  materializes in one task. ``ewma_by_key_fold`` keeps the single
  ordered-fold formulation as the small-data oracle anchor.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# --- rolling distinct count --------------------------------------------------


def rolling_distinct_count(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Distinct ``key_col`` values active in the trailing ``window_days``
    calendar days, per observed day.

    Scale shape: (key, day) distinct -> explode each row to the
    ``window_days`` report days it covers (bounded fan-out) -> distinct
    (key, report-day) -> count per day. Two hash-partitioned distincts;
    the alternative — ``collect_set`` over a RANGE frame — materializes
    per-frame membership state and cannot map-side combine. Report days
    are restricted to days that actually appear in the stream (broadcast
    semi-join with the tiny day dimension)."""
    day = F.to_date(F.col(ts_col)).alias("day")
    key_days = df.select(F.col(key_col).alias("key"), day).distinct()
    days = key_days.select("day").distinct()
    covered = (
        key_days.select(
            "key",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
            ).alias("day"),
        )
        .distinct()
    )
    return (
        covered.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "n_active")
    )


def sql_rolling_distinct_count(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_days: int = 7,
) -> str:
    """DuckDB replay: the trailing-window distinct stated directly as an
    inequality join (DuckDB's range join handles the small scale; the
    Spark side carries the scale rewrite)."""
    return f"""
    WITH days AS (SELECT DISTINCT CAST({ts_col} AS DATE) AS d FROM {table})
    SELECT strftime(d, '%Y-%m-%d') AS day,
        count(DISTINCT e.{key_col}) AS n_active
    FROM days JOIN {table} e
      ON CAST(e.{ts_col} AS DATE)
         BETWEEN d - INTERVAL {window_days - 1} DAY AND d
    GROUP BY d
    """


# --- sweep-line concurrency --------------------------------------------------


def session_intervals(
    df: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-and-islands sessionization returning (key, session_start,
    session_end) intervals — the same 30-min-inactivity definition as
    ``streaming.events.sessionize`` (reference has no events; SURVEY §2.8
    family), built with one keyed window + one groupBy on the same key,
    so there is a single Exchange on ``key_col``."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col))
    flagged = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.when(us - F.lag(us).over(w) >= gap_us, 1).otherwise(0).alias("new_s"),
    )
    ids = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            Window.partitionBy("key")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return ids.groupBy("key", "session_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )


def daily_max_concurrency(
    df: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Peak concurrent sessions per day, by sweep line: +1 at each session
    start, -1 one microsecond after its end (inclusive-end semantics with
    no tie-ordering trap: deltas are SUMMED PER TIMESTAMP first, so the
    running sum never depends on intra-timestamp order).

    The global prefix sum is decomposed for scale: within-day prefix sums
    run under a day-partitioned window (parallel), day totals cumulate in
    a #days-row window (the only single-partition step — dimension-sized
    by construction), and the day carry is broadcast back. Concurrency at
    any change point = day carry + within-day prefix; per-day max + the
    change-point count are the report."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    sess = session_intervals(df, gap_minutes, ts_col, key_col)
    end_excl = F.timestamp_micros(F.unix_micros(F.col("session_end")) + 1)
    # r14 melt (same fix as graph_family_report): the (start,+1)/(end,-1)
    # deltas used to come from a two-leg union whose legs EACH evaluated
    # the full sessionization subtree (events scan + per-user window);
    # emitting both deltas from one inline 2-element array keeps a single
    # sessionization pass with a narrow Generate on top. Same rows, same
    # values — order is irrelevant under the per-timestamp sum below.
    pts = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("session_start").alias("pt"), F.lit(1).alias("d")
                ),
                F.struct(end_excl.alias("pt"), F.lit(-1).alias("d")),
            )
        ).alias("_e")
    ).select(F.col("_e.pt").alias("pt"), F.col("_e.d").alias("d"))
    # pooled: per_ts feeds BOTH the within-day prefix branch and the
    # day-total carry branch — without the persist the whole two-window
    # sessionization subtree evaluates once per consumer per union leg
    # (4x, plan-verified). Change points are ~2 rows per session: far
    # smaller than the event stream it summarizes.
    per_ts = pooled_persist(
        pts.groupBy("pt")
        .agg(F.sum("d").cast("long").alias("d"))
        .withColumn("day", F.to_date("pt"))
    )
    w_in = (
        Window.partitionBy("day")
        .orderBy("pt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    day_tot = per_ts.groupBy("day").agg(F.sum("d").alias("tot"))
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(w_days), F.lit(0)).alias("carry")
    )
    conc = (F.col("carry") + F.sum("d").over(w_in)).alias("conc")
    return (
        per_ts.join(F.broadcast(carry), "day")
        .select("day", conc)
        .groupBy("day")
        .agg(
            F.max("conc").alias("max_concurrent"),
            F.count(F.lit(1)).alias("n_change_points"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "max_concurrent",
            "n_change_points",
        )
    )


def sql_daily_max_concurrency(
    table: str = "events",
    gap_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> str:
    """DuckDB replay: same sessionization, one GLOBAL running sum (fine at
    oracle scale) over the per-timestamp net deltas."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
    WITH flagged AS (
        SELECT {key_col} AS key, {ts_col} AS ts,
            CASE WHEN epoch_us({ts_col}) - lag(epoch_us({ts_col}))
                     OVER (PARTITION BY {key_col} ORDER BY {ts_col})
                 >= {gap_us} THEN 1 ELSE 0 END AS new_s
        FROM {table}
    ), ids AS (
        SELECT key, ts,
            sum(new_s) OVER (PARTITION BY key ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    ), sess AS (
        SELECT key, session_id, min(ts) AS s,
            max(ts) + INTERVAL 1 MICROSECOND AS e
        FROM ids GROUP BY 1, 2
    ), pts AS (
        SELECT s AS pt, 1 AS d FROM sess
        UNION ALL
        SELECT e AS pt, -1 AS d FROM sess
    ), per_ts AS (
        SELECT pt, CAST(sum(d) AS BIGINT) AS d FROM pts GROUP BY pt
    ), swept AS (
        SELECT pt, CAST(sum(d) OVER (ORDER BY pt) AS BIGINT) AS conc
        FROM per_ts
    )
    SELECT strftime(CAST(pt AS DATE), '%Y-%m-%d') AS day,
        max(conc) AS max_concurrent,
        count(*) AS n_change_points
    FROM swept GROUP BY 1
    """


# --- exponential smoothing ---------------------------------------------------


def ewma_by_key_fold(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Single ordered-fold EWMA — the ORACLE ANCHOR formulation: collect
    the whole per-key series into one row (array_sort fixes the order
    collect_list does not guarantee), seed with the first element,
    ``aggregate`` over the rest. Arithmetic is written identically to
    DuckDB's ``list_reduce`` (alpha*x + (1-alpha)*acc, same association)
    so the raw IEEE doubles agree exactly. The per-key series must fit
    one row — fine for tests and as the reference implementation;
    ``ewma_by_key`` (the default) is the segmented scan that drops that
    bound."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(id_col).alias("id"),
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    vals = F.transform(arr, lambda s: s.getField("v"))
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_obs"), ewma.alias("ewma")
    )


def _join_firsts(base, firsts):
    """NULL-safe attach of the per-key min-(ts, id) first-row struct.
    A USING-join (`join(firsts, "key")`) is plain equality and silently
    DROPS NULL-key rows — while every grouped stage around it (groupBy,
    Window.partitionBy, the Arrow folds' factorized boundaries, the
    DuckDB oracle's GROUP BY) keeps NULL as one real group. eqNullSafe
    is still an equi-predicate, so the broadcast/hash join strategy is
    unchanged."""
    f = firsts.select(F.col("key").alias("__hw_key"), "_first")
    return base.join(f, base["key"].eqNullSafe(f["__hw_key"])).drop(
        "__hw_key"
    )


def _affine_fold(maps):
    """Left-fold an ordered array of affine maps struct<m,a> to one map.

    Seeded list_reduce-style with the FIRST element (mirrors DuckDB's
    ``list_reduce``), composing "apply acc, then x":
    (m, a) o (M, A) -> (x.m*acc.m, x.m*acc.a + x.a) — literally the same
    two expressions on both engines so the doubles are bit-identical."""
    return F.aggregate(
        F.slice(maps, 2, F.greatest(F.size(maps) - 1, F.lit(0))),
        F.element_at(maps, 1),
        lambda acc, x: F.struct(
            (x.getField("m") * acc.getField("m")).alias("m"),
            (x.getField("m") * acc.getField("a") + x.getField("a")).alias("a"),
        ),
    )


def ewma_by_key(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    bucket: str = "month",
    max_bucket_rows: int | None = None,
    check_order_unique: bool = False,
) -> DataFrame:
    """Final EWMA state per key: s_1 = x_1, s_t = alpha*x_t +
    (1-alpha)*s_{t-1} over the key's events in (ts, id) order — as a
    two-phase SEGMENTED scan with no per-key size bound.

    The recursion is not a frame aggregate (each step needs the previous
    RESULT, not previous inputs), but it IS a linear recurrence, and
    every step is the affine map s -> (1-alpha)*s + alpha*x. Affine maps
    compose associatively, so the scan decomposes exactly like
    ``daily_max_concurrency``'s prefix sum:

    1. the key's FIRST element (identified by a map-side-combinable
       ``min(struct(ts,id))`` aggregate — no keyed window, so a hot key
       never funnels into one task) becomes the absorbing map (0, x_1):
       it zeroes all history, encoding the s_1 = x_1 seed; every other
       element becomes ((1-alpha), alpha*x);
    2. phase 1 folds each (key, time-bucket)'s sorted maps to ONE
       (multiplier, addend) pair — rows per task bounded by the bucket
       granularity (default calendar month), not by key size;
    3. phase 2 folds the dimension-sized bucket list per key — #buckets
       rows, bytes — and the final addend IS the answer (the first
       bucket's zero multiplier absorbs the undefined initial state).

    The oracle (``sql_ewma_by_key``) mirrors this exact arithmetic
    (same bucketing, same fold expressions, list_reduce seeded with the
    first element exactly as ``_affine_fold`` is), so raw doubles
    hash-match with no rounding. Segmented == single-fold is also
    property-tested (exact in rational arithmetic; <=1e-9 relative in
    IEEE — rounding points differ across bucket boundaries).

    ``max_bucket_rows`` (opt-in) enforces the bounded-(key, bucket)
    contract phase 1 relies on via ``dq.assert_group_bound`` — a key
    whose single bucket still exceeds the bound (pick a finer ``bucket``
    then) raises a named error instead of OOMing the fold task.

    CONTRACT: (ts, id) must be unique per key — duplicated order keys
    make "the first element" ill-defined (the min-struct seed would mark
    every tied copy absorbing, the oracle's row_number exactly one).
    ``check_order_unique`` (opt-in, one counting scan) enforces it via
    the same DQ gate."""
    ts, vid = F.col(ts_col), F.col(id_col)
    base = df.select(
        F.col(key_col).alias("key"),
        ts.alias("ts"),
        vid.alias("id"),
        F.col(value_col).cast("double").alias("v"),
        F.date_trunc(bucket, ts).alias("bk"),
    )
    if max_bucket_rows is not None:
        from asctb_ct_label_mapper_spark.operators.dq import assert_group_bound

        assert_group_bound(
            base, ["key", "bk"], max_bucket_rows, label="ewma_by_key"
        )
    if check_order_unique:
        from asctb_ct_label_mapper_spark.operators.dq import assert_group_bound

        assert_group_bound(
            base, ["key", "ts", "id"], 1, label="ewma_by_key order key"
        )
    firsts = base.groupBy("key").agg(
        F.min(F.struct(F.col("ts"), F.col("id"))).alias("_first")
    )
    is_first = F.struct(F.col("ts"), F.col("id")) == F.col("_first")
    mapped = _join_firsts(base, firsts).select(
        "key",
        "bk",
        "ts",
        "id",
        F.when(is_first, F.lit(0.0)).otherwise(F.lit(1.0 - alpha)).alias("m"),
        F.when(is_first, F.col("v"))
        .otherwise(F.lit(alpha) * F.col("v"))
        .alias("a"),
    )
    per_bucket = mapped.groupBy("key", "bk").agg(
        F.count(F.lit(1)).alias("n"),
        _affine_fold(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "id", "m", "a"))
                ),
                lambda s: F.struct(
                    s.getField("m").alias("m"), s.getField("a").alias("a")
                ),
            )
        ).alias("p"),
    )
    per_key = per_bucket.groupBy("key").agg(
        F.sum("n").alias("n_obs"),
        _affine_fold(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("bk"),
                            F.col("p").getField("m").alias("m"),
                            F.col("p").getField("a").alias("a"),
                        )
                    )
                ),
                lambda s: F.struct(
                    s.getField("m").alias("m"), s.getField("a").alias("a")
                ),
            )
        ).alias("p"),
    )
    return per_key.select(
        "key", "n_obs", F.col("p").getField("a").alias("ewma")
    )


def sql_ewma_by_key(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    where: str = "1=1",
    bucket: str = "month",
) -> str:
    """DuckDB replay of the SEGMENTED scan, mirroring ``ewma_by_key``'s
    arithmetic step for step (same bucketing, same per-element affine
    maps, same fold expressions `x.m*acc.m` / `x.m*acc.a + x.a`,
    list_reduce's first-element seed == the Spark fold's explicit seed)
    so the raw doubles hash-match. Segmented-vs-single-fold equivalence
    is proven separately by property test; the oracle's job here is to
    pin the ENGINE's exact computation."""
    return f"""
    WITH base AS (
        SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
            CAST({value_col} AS DOUBLE) AS v,
            date_trunc('{bucket}', {ts_col}) AS bk,
            row_number() OVER (PARTITION BY {key_col}
                               ORDER BY {ts_col}, {id_col}) AS rn
        FROM {table} WHERE {where}
    ), maps AS (
        SELECT key, bk, ts, id,
            -- CAST: a bare literal is DECIMAL in DuckDB; keep the fold
            -- in DOUBLE (dyadic alpha happens to survive decimal, but
            -- only by luck — see the Holt sibling)
            CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {1.0 - alpha} END AS DOUBLE) AS m,
            CASE WHEN rn = 1 THEN v ELSE {alpha} * v END AS a
        FROM base
    ), per_bucket AS (
        SELECT key, bk, count(*) AS n,
            list_reduce(
                list(struct_pack(m := m, a := a) ORDER BY ts, id),
                (acc, x) -> struct_pack(
                    m := x.m * acc.m, a := x.m * acc.a + x.a)
            ) AS p
        FROM maps GROUP BY key, bk
    ), per_key AS (
        SELECT key, CAST(sum(n) AS BIGINT) AS n_obs,
            list_reduce(
                list(struct_pack(m := p.m, a := p.a) ORDER BY bk),
                (acc, x) -> struct_pack(
                    m := x.m * acc.m, a := x.m * acc.a + x.a)
            ) AS p
        FROM per_bucket GROUP BY key
    )
    SELECT key, n_obs, p.a AS ewma FROM per_key
    """


# --- CUSUM change detection (max-plus segmented scan) ------------------------


def _cusum_compose(acc, x):
    """Compose two CUSUM maps in the (max, +) semiring. A map is the
    4-tuple (A, B, C, D) representing, over a segment of elements,

        s' = max(A, s + B)          (the CUSUM state after the segment)
        m' = max(m, C, s + D)       (the running max over the segment)

    Per-element map for deviation b = x - drift: (0, b, 0, b) — i.e.
    s' = max(0, s + b), m' = max(m, s'). The family is CLOSED under
    composition (earlier = acc, later = x):

        A' = max(x.A, acc.A + x.B)      B' = acc.B + x.B
        C' = max(acc.C, x.C, acc.A + x.D)  D' = max(acc.D, acc.B + x.D)

    max/+ on doubles are exact and order-insensitive, so the oracle's
    list-accumulator fold reproduces the raw doubles bit-for-bit."""
    return F.struct(
        F.greatest(x.getField("ca"), acc.getField("ca") + x.getField("cb")).alias("ca"),
        (acc.getField("cb") + x.getField("cb")).alias("cb"),
        F.greatest(
            acc.getField("cc"),
            x.getField("cc"),
            acc.getField("ca") + x.getField("cd"),
        ).alias("cc"),
        F.greatest(
            acc.getField("cd"), acc.getField("cb") + x.getField("cd")
        ).alias("cd"),
    )


_CUSUM_FIELDS = ("ca", "cb", "cc", "cd")


def cusum_by_key(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    drift: float = 0.0,
    threshold: float | None = None,
    bucket: str = "month",
) -> DataFrame:
    """One-sided CUSUM change detector per key: s_0 = 0,
    s_t = max(0, s_{t-1} + (x_t - drift)) over (ts, id) order, plus the
    running max of s — the classic upward-shift alarm statistic.

    The recurrence is NOT linear in (+, *) but it IS affine in the
    (max, +) semiring, so the exact same two-phase segmented scan the
    EWMA/Holt family uses applies: per-(key, bucket) folds of the
    4-parameter max-plus maps (see ``_cusum_compose``), then a
    dimension-sized per-key carry. No keyed window, no unbounded state;
    hot keys split across buckets. Unlike the (+, *) recurrences the
    zero initial state needs no absorbing first element — every element
    map already clamps at 0.

    Returns (key, n_obs, cusum_final, cusum_max[, alarm]) — alarm
    (cusum_max > threshold) only when ``threshold`` is given. Raw
    doubles: max/+ make engine and oracle bit-identical."""
    b = F.col("v") - F.lit(float(drift))
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bk"),
    ).select(
        "key",
        "bk",
        "ts",
        "id",
        F.lit(0.0).alias("ca"),
        b.alias("cb"),
        F.lit(0.0).alias("cc"),
        b.alias("cd"),
    )

    def fold(maps):
        return F.aggregate(
            F.slice(maps, 2, F.greatest(F.size(maps) - 1, F.lit(0))),
            F.element_at(maps, 1),
            _cusum_compose,
        )

    per_bucket = base.groupBy("key", "bk").agg(
        F.count(F.lit(1)).alias("n"),
        fold(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "id", *_CUSUM_FIELDS))
                ),
                lambda s: F.struct(
                    *[s.getField(f).alias(f) for f in _CUSUM_FIELDS]
                ),
            )
        ).alias("p"),
    )
    per_key = per_bucket.groupBy("key").agg(
        F.sum("n").alias("n_obs"),
        fold(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("bk"),
                            *[
                                F.col("p").getField(f).alias(f)
                                for f in _CUSUM_FIELDS
                            ],
                        )
                    )
                ),
                lambda s: F.struct(
                    *[s.getField(f).alias(f) for f in _CUSUM_FIELDS]
                ),
            )
        ).alias("p"),
    )
    final = F.greatest(
        F.col("p").getField("ca"), F.col("p").getField("cb")
    )
    cmax = F.greatest(F.col("p").getField("cc"), F.col("p").getField("cd"))
    cols = [
        F.col("key"),
        F.col("n_obs"),
        final.alias("cusum_final"),
        cmax.alias("cusum_max"),
    ]
    if threshold is not None:
        cols.append((cmax > F.lit(float(threshold))).alias("alarm"))
    return per_key.select(*cols)


def sql_cusum_by_key(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    drift: float = 0.0,
    threshold: float | None = None,
    where: str = "1=1",
    bucket: str = "month",
) -> str:
    """DuckDB replay of ``cusum_by_key`` — the same max-plus fold with a
    LIST accumulator [A, B, C, D] (a struct_pack accumulator would alias
    earlier fields into later reads: C' reads acc.A after A was already
    overwritten)."""
    comp = (
        "(acc, x) -> ["
        "greatest(x[1], acc[1] + x[2]), "
        "acc[2] + x[2], "
        "greatest(acc[3], x[3], acc[1] + x[4]), "
        "greatest(acc[4], acc[2] + x[4])]"
    )
    alarm = (
        f", greatest(p[3], p[4]) > {float(threshold)} AS alarm"
        if threshold is not None
        else ""
    )
    return f"""
    WITH base AS (
        SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
            date_trunc('{bucket}', {ts_col}) AS bk,
            CAST(0.0 AS DOUBLE) AS ca,
            CAST({value_col} AS DOUBLE) - {float(drift)} AS cb,
            CAST(0.0 AS DOUBLE) AS cc,
            CAST({value_col} AS DOUBLE) - {float(drift)} AS cd
        FROM {table} WHERE {where}
    ), per_bucket AS (
        SELECT key, bk, count(*) AS n,
            list_reduce(list([ca, cb, cc, cd] ORDER BY ts, id), {comp}) AS p
        FROM base GROUP BY key, bk
    ), per_key AS (
        SELECT key, CAST(sum(n) AS BIGINT) AS n_obs,
            list_reduce(list(p ORDER BY bk), {comp}) AS p
        FROM per_bucket GROUP BY key
    )
    SELECT key, n_obs,
        greatest(p[1], p[2]) AS cusum_final,
        greatest(p[3], p[4]) AS cusum_max{alarm}
    FROM per_key
    """


# --- ID-gap detection --------------------------------------------------------


def id_gap_ranges(
    df: DataFrame, id_col: str = "event_id", bucket_size: int = 1000
) -> DataFrame:
    """Contiguous missing-ID ranges in an integer sequence (the
    ingest-completeness audit: which event_ids never arrived?). The
    definition is one GLOBAL lag — a single-partition sort at scale — so
    it two-phases: lag within id-range buckets (parallel), plus boundary
    gaps from the bucket-summary (min, max) frame, which is
    dimension-sized by construction (empty buckets simply don't appear;
    the previous non-empty bucket's max carries across them). Returns
    (gap_start, gap_end, n_missing); gaps exist only BETWEEN observed
    ids."""
    ids = df.select(
        id_col, (F.col(id_col) / F.lit(bucket_size)).cast("long").alias("_bk")
    )
    w_in = Window.partitionBy("_bk").orderBy(id_col)
    in_bucket = (
        ids.withColumn("_prev", F.lag(id_col).over(w_in))
        .filter(
            F.col("_prev").isNotNull() & (F.col(id_col) - F.col("_prev") > 1)
        )
        .select(
            (F.col("_prev") + 1).alias("gap_start"),
            (F.col(id_col) - 1).alias("gap_end"),
        )
    )
    summary = ids.groupBy("_bk").agg(
        F.min(id_col).alias("_min"), F.max(id_col).alias("_max")
    )
    w_bk = Window.orderBy("_bk")
    boundary = (
        summary.withColumn("_prev_max", F.lag("_max").over(w_bk))
        .filter(
            F.col("_prev_max").isNotNull()
            & (F.col("_min") - F.col("_prev_max") > 1)
        )
        .select(
            (F.col("_prev_max") + 1).alias("gap_start"),
            (F.col("_min") - 1).alias("gap_end"),
        )
    )
    return in_bucket.unionAll(boundary).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("n_missing"),
    )


# --- Holt linear-trend smoothing (matrix segmented scan) ---------------------


def _affine2_fold(maps):
    """Left-fold an ordered array of 2x2-matrix affine maps
    struct<m11,m12,m21,m22,a1,a2> — the 2-dimensional sibling of
    ``_affine_fold``, list_reduce-seeded with the first element.
    Composition "apply acc, then x" is (x.M @ acc.M, x.M @ acc.a + x.a)
    with every entry written as the identical expression on both
    engines, so the IEEE doubles agree exactly."""

    def compose(acc, x):
        m11, m12 = x.getField("m11"), x.getField("m12")
        m21, m22 = x.getField("m21"), x.getField("m22")
        return F.struct(
            (m11 * acc.getField("m11") + m12 * acc.getField("m21")).alias("m11"),
            (m11 * acc.getField("m12") + m12 * acc.getField("m22")).alias("m12"),
            (m21 * acc.getField("m11") + m22 * acc.getField("m21")).alias("m21"),
            (m21 * acc.getField("m12") + m22 * acc.getField("m22")).alias("m22"),
            (
                m11 * acc.getField("a1") + m12 * acc.getField("a2")
                + x.getField("a1")
            ).alias("a1"),
            (
                m21 * acc.getField("a1") + m22 * acc.getField("a2")
                + x.getField("a2")
            ).alias("a2"),
        )

    return F.aggregate(
        F.slice(maps, 2, F.greatest(F.size(maps) - 1, F.lit(0))),
        F.element_at(maps, 1),
        compose,
    )


def holt_by_key(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 3,
    bucket: str = "month",
    check_order_unique: bool = False,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per key, as the
    SAME two-phase segmented scan as ``ewma_by_key`` — proof the
    decomposition generalizes past scalars to any LINEAR recurrence:

        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    is s_t = M s_{t-1} + c_t on the state s = [level, trend] with
    M = [[1-a, 1-a], [-a*b, 1-a*b]] and c_t = [a*x_t, a*b*x_t]; matrix
    affine maps compose associatively, so phase 1 folds each
    (key, bucket)'s sorted maps to one (M, c) pair and phase 2 composes
    the dimension-sized bucket list. The key's first element is the
    absorbing map (0-matrix, [x_1, 0]) — seed l_1 = x_1, b_1 = 0.

    Returns (key, n_obs, level, trend, forecast) with forecast =
    level + horizon*trend (the h-step-ahead linear extrapolation).
    Defaults are dyadic so every constant is exactly representable; the
    oracle mirrors the fold expression for expression. Same
    unique-(ts, id)-per-key contract as ``ewma_by_key``;
    ``check_order_unique`` (opt-in) enforces it."""
    ts, vid = F.col(ts_col), F.col(id_col)
    base = df.select(
        F.col(key_col).alias("key"),
        ts.alias("ts"),
        vid.alias("id"),
        F.col(value_col).cast("double").alias("v"),
        F.date_trunc(bucket, ts).alias("bk"),
    )
    if check_order_unique:
        from asctb_ct_label_mapper_spark.operators.dq import assert_group_bound

        assert_group_bound(
            base, ["key", "ts", "id"], 1, label="holt_by_key order key"
        )
    firsts = base.groupBy("key").agg(
        F.min(F.struct(F.col("ts"), F.col("id"))).alias("_first")
    )
    is_first = F.struct(F.col("ts"), F.col("id")) == F.col("_first")
    a, b = float(alpha), float(beta)
    consts = {
        "m11": 1.0 - a, "m12": 1.0 - a,
        "m21": -(a * b), "m22": 1.0 - a * b,
    }
    mapped = _join_firsts(base, firsts).select(
        "key",
        "bk",
        "ts",
        "id",
        *[
            F.when(is_first, F.lit(0.0)).otherwise(F.lit(c)).alias(n)
            for n, c in consts.items()
        ],
        F.when(is_first, F.col("v")).otherwise(F.lit(a) * F.col("v")).alias("a1"),
        F.when(is_first, F.lit(0.0))
        .otherwise(F.lit(a * b) * F.col("v"))
        .alias("a2"),
    )
    fields = ["m11", "m12", "m21", "m22", "a1", "a2"]
    per_bucket = mapped.groupBy("key", "bk").agg(
        F.count(F.lit(1)).alias("n"),
        _affine2_fold(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "id", *fields))),
                lambda s: F.struct(*[s.getField(f).alias(f) for f in fields]),
            )
        ).alias("p"),
    )
    per_key = per_bucket.groupBy("key").agg(
        F.sum("n").alias("n_obs"),
        _affine2_fold(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("bk"),
                            *[F.col("p").getField(f).alias(f) for f in fields],
                        )
                    )
                ),
                lambda s: F.struct(*[s.getField(f).alias(f) for f in fields]),
            )
        ).alias("p"),
    )
    level = F.col("p").getField("a1")
    trend = F.col("p").getField("a2")
    return per_key.select(
        "key",
        "n_obs",
        level.alias("level"),
        trend.alias("trend"),
        (level + F.lit(float(horizon)) * trend).alias("forecast"),
    )


def sql_holt_by_key(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 3,
    where: str = "1=1",
    bucket: str = "month",
) -> str:
    """DuckDB replay of the matrix segmented scan, entry for entry (same
    bucketing, same per-element maps, same composition expressions,
    list_reduce first-element seed == the Spark fold's)."""
    a, b = float(alpha), float(beta)
    # accumulator is a DOUBLE[6] LIST [m11,m12,m21,m22,a1,a2], NOT a
    # struct: DuckDB 1.0 list_reduce ALIASES the accumulator into the
    # struct_pack result as fields evaluate, so a struct comp computes
    # a2 against the freshly-overwritten a1 (measured: 1.015625 vs the
    # correct 1.09375 on a 3-map fold). List construction evaluates all
    # elements against the old accumulator; arithmetic is otherwise the
    # identical expression sequence the Spark fold runs.
    comp = (
        "(acc, x) -> ["
        "x[1] * acc[1] + x[2] * acc[3], "
        "x[1] * acc[2] + x[2] * acc[4], "
        "x[3] * acc[1] + x[4] * acc[3], "
        "x[3] * acc[2] + x[4] * acc[4], "
        "x[1] * acc[5] + x[2] * acc[6] + x[5], "
        "x[3] * acc[5] + x[4] * acc[6] + x[6]]"
    )
    return f"""
    WITH base AS (
        SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
            CAST({value_col} AS DOUBLE) AS v,
            date_trunc('{bucket}', {ts_col}) AS bk,
            row_number() OVER (PARTITION BY {key_col}
                               ORDER BY {ts_col}, {id_col}) AS rn
        FROM {table} WHERE {where}
    ), maps AS (
        SELECT key, bk, ts, id,
            -- CAST: bare numeric literals are DECIMAL in DuckDB, and the
            -- fold's decimal matrix products truncate scale — every map
            -- entry must enter the composition as DOUBLE
            CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {1.0 - a} END AS DOUBLE) AS m11,
            CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {1.0 - a} END AS DOUBLE) AS m12,
            CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {-(a * b)} END AS DOUBLE) AS m21,
            CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {1.0 - a * b} END AS DOUBLE) AS m22,
            CASE WHEN rn = 1 THEN v ELSE {a} * v END AS a1,
            CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {a * b} * v END AS DOUBLE) AS a2
        FROM base
    ), per_bucket AS (
        SELECT key, bk, count(*) AS n,
            list_reduce(
                list([m11, m12, m21, m22, a1, a2] ORDER BY ts, id),
                {comp}
            ) AS p
        FROM maps GROUP BY key, bk
    ), per_key AS (
        SELECT key, CAST(sum(n) AS BIGINT) AS n_obs,
            list_reduce(
                list(p ORDER BY bk),
                {comp}
            ) AS p
        FROM per_bucket GROUP BY key
    )
    SELECT key, n_obs, p[5] AS level, p[6] AS trend,
        p[5] + {float(horizon)} * p[6] AS forecast
    FROM per_key
    """


# --- generic matrix segmented scan + Holt-Winters ----------------------------


def _matrix_affine_fold(maps, dim: int):
    """Left-fold an ordered array of DIM-dimensional matrix affine maps
    struct<m_0_0..m_{d-1}_{d-1}, a_0..a_{d-1}> — the any-dimension
    generalization of ``_affine_fold``/``_affine2_fold`` (those remain
    as the hand-written 1-D/2-D anchors; this one is generated from
    index loops shared with the oracle generator, so the engine and SQL
    run the same multiply/add sequence). Composition "apply acc, then
    x": M' = x.M @ acc.M, a' = x.M @ acc.a + x.a, inner sums
    accumulated in ascending k order (left-associated, matching SQL)."""

    def compose(acc, x):
        fields = []
        for i in range(dim):
            for j in range(dim):
                e = None
                for k in range(dim):
                    t = x.getField(f"m_{i}_{k}") * acc.getField(f"m_{k}_{j}")
                    e = t if e is None else e + t
                fields.append(e.alias(f"m_{i}_{j}"))
        for i in range(dim):
            e = None
            for k in range(dim):
                t = x.getField(f"m_{i}_{k}") * acc.getField(f"a_{k}")
                e = t if e is None else e + t
            fields.append((e + x.getField(f"a_{i}")).alias(f"a_{i}"))
        return F.struct(*fields)

    return F.aggregate(
        F.slice(maps, 2, F.greatest(F.size(maps) - 1, F.lit(0))),
        F.element_at(maps, 1),
        compose,
    )


def _hw_transition(alpha: float, beta: float, gamma: float, period: int):
    """Holt-Winters additive transition as a (p+2)-dim matrix + addend
    coefficient (state = [level, trend, s_0(newest) .. s_{p-1}]):

        l' = (1-a)l + (1-a)b - a*s_{p-1} + a*x
        b' = -ab*l + (1-ab)b - ab*s_{p-1} + ab*x
        s0' = -g(1-a)l - g(1-a)b + (ga+1-g)s_{p-1} + g(1-a)*x
        s_i' = s_{i-1}            (seasonal slots shift)

    Returns (matrix rows, addend coefficients of x)."""
    a, b, g = alpha, beta, gamma
    d = period + 2
    m = [[0.0] * d for _ in range(d)]
    last = d - 1  # the s_{p-1} slot (the one p steps old)
    m[0][0], m[0][1], m[0][last] = 1.0 - a, 1.0 - a, -a
    m[1][0], m[1][1], m[1][last] = -(a * b), 1.0 - a * b, -(a * b)
    m[2][0] = -(g * (1.0 - a))
    m[2][1] = -(g * (1.0 - a))
    m[2][last] = g * a + 1.0 - g
    for i in range(1, period):
        m[2 + i][2 + i - 1] = 1.0  # shift
    cx = [a, a * b, g * (1.0 - a)] + [0.0] * (period - 1)
    return m, cx


def _chain_key_codes(series):
    """Null-aware chain-key codes for the Arrow folds' boundary
    detection. Raw numpy comparison treats NaN != NaN as True, so a
    nullable numeric key (long with nulls arrives from Arrow as float64
    + NaN) would split every NULL-key row into its own singleton chain
    — while impl='hof' (Spark groupBy / Window.partitionBy) and the
    DuckDB oracle treat NULL as ONE group. pd.factorize with the NA
    sentinel folds all nulls to one code and compares object/string
    keys on their original values. NOTE: an int64 key > 2^53 alongside
    nulls can still collide at the upstream Arrow->pandas float64
    conversion (before this function can see it) — use string keys for
    such id spaces."""
    import pandas as pd

    codes, _ = pd.factorize(series, use_na_sentinel=True)
    return codes


def _arrow_fused_fold_fn(m, cx, first_a, d: int, seed: str = "zero"):
    """Build the applyInPandas function for the FUSED fused-Arrow path:
    one shard holds whole KEYS, and the function runs all three steps —
    first-element detection (the key's min (ts, id) row), the
    per-(key, bucket) chain fold, and the per-key bucket carry — in
    numpy with the exact scalar op order of the HOF anchor
    (``_matrix_affine_fold``): per entry, terms accumulated ascending-k
    left-associated, addend last, ALL terms kept (a dropped 0.0-multiply
    can flip a -0.0 partial sum). The forecast is composed (level +
    trend) + season_next, matching the engine expression. Bit-equality
    with ``impl='hof'`` is hash-proven by test.

    ``seed='classical'``: textbook p-observation priming — the key's
    first p observations are CONSUMED into the seed state (l0 = their
    mean, b0 = (x_p - x_1)/(p-1), s_i = x_i - l0), injected as the
    absorbing element at the p-th row's position; rows before it drop,
    the recurrence runs from x_{p+1}. Keys with fewer than p rows emit
    primed=False (the engine wrapper nulls their smoothed fields). The
    seed arithmetic (ascending left-associated sum, then one divide)
    mirrors the oracle's list_reduce exactly. ``seed='zero'`` keeps the
    l1=x1 / zero-seasonal behavior bit-for-bit."""
    m_rows = [[float(m[i][j]) for j in range(d)] for i in range(d)]
    cxs = [float(c) for c in cx]
    fas = [float(c) for c in first_a]
    period = d - 2

    def fold(pdf):
        import numpy as np
        import pandas as pd

        out_cols = [
            "key", "n_obs", "primed",
            "level", "trend", "season_next", "forecast_1",
        ]
        if len(pdf) == 0:
            return pd.DataFrame(columns=out_cols)
        pdf = pdf.sort_values(["key", "bk", "ts", "id"], kind="mergesort")
        key = pdf["key"].to_numpy()
        kc = _chain_key_codes(pdf["key"])
        bk = pdf["bk"].to_numpy()
        ts = pdf["ts"].to_numpy()
        rid = pdf["id"].to_numpy()
        v = pdf["v"].to_numpy(dtype=np.float64)
        n = len(pdf)
        kb = np.ones(n, dtype=bool)
        kb[1:] = kc[1:] != kc[:-1]
        kstarts = np.flatnonzero(kb)
        klens = np.diff(np.append(kstarts, n))
        all_keys = key[kstarts]
        all_nobs = klens.astype(np.int64)
        seed_vec = None
        if seed == "classical":
            p = period
            n_all = len(kstarts)
            kpos = np.arange(n) - np.repeat(kstarts, klens)
            kidx = np.repeat(np.arange(n_all), klens)
            primed_key = klens >= p
            # first-p matrix (rows of unprimed keys unused)
            fp = np.zeros((n_all, p))
            head = kpos < p
            fp[kidx[head], kpos[head]] = v[head]
            s = fp[:, 0].copy()
            for i in range(1, p):
                s = s + fp[:, i]
            l0 = s / float(p)
            b0 = (
                (fp[:, p - 1] - fp[:, 0]) / float(p - 1)
                if p > 1
                else np.zeros(n_all)
            )
            seed_vec = [l0, b0] + [fp[:, p - 1 - i] - l0 for i in range(p)]
            # keep the p-th row (the absorbing seed position) and later
            keep = (kpos >= p - 1) & primed_key[kidx]
            if not keep.any():
                return pd.DataFrame(
                    {
                        "key": all_keys,
                        "n_obs": all_nobs,
                        "primed": np.zeros(len(all_keys), dtype=bool),
                        "level": np.full(len(all_keys), np.nan),
                        "trend": np.full(len(all_keys), np.nan),
                        "season_next": np.full(len(all_keys), np.nan),
                        "forecast_1": np.full(len(all_keys), np.nan),
                    }
                )
            fr = kpos == p - 1  # absorbing position, before filtering
            key, kc, bk, ts, rid, v, fr = (
                a[keep] for a in (key, kc, bk, ts, rid, v, fr)
            )
            seed_kidx = kidx[keep]  # key index per kept row
            n = len(key)
            kb = np.ones(n, dtype=bool)
            kb[1:] = kc[1:] != kc[:-1]
        else:
            # zero seed: the absorbing element is the key's min (ts, id)
            # row; equality (not position) honors duplicated order keys
            # (out of contract) like the engine's min-struct does
            rep = np.repeat(kstarts, klens)
            fr = (ts == ts[rep]) & (rid == rid[rep])
        # ---- phase A: per-(key, bucket) chain fold (x = constant m) ----
        boundary = kb.copy()
        boundary[1:] |= bk[1:] != bk[:-1]
        starts = np.flatnonzero(boundary)
        n_chains = len(starts)
        lengths = np.diff(np.append(starts, n))
        order = np.argsort(-lengths, kind="stable")
        rank = np.empty(n_chains, dtype=np.int64)
        rank[order] = np.arange(n_chains)
        cid = np.cumsum(boundary) - 1
        newcid = rank[cid]
        pos = np.arange(n) - np.repeat(starts, lengths)
        lens_sorted = lengths[order]
        lmax = int(lens_sorted[0])
        vmat = np.zeros((n_chains, lmax))
        vmat[newcid, pos] = v
        fmat = np.zeros((n_chains, lmax), dtype=bool)
        fmat[newcid, pos] = fr
        v0, f0 = vmat[:, 0], fmat[:, 0]
        acc_m = [
            [np.where(f0, 0.0, m_rows[i][j]) for j in range(d)]
            for i in range(d)
        ]
        if seed == "classical":
            # the absorbing chain's seed is the key's precomputed primed
            # state (chains exist only for primed keys, so every lookup
            # is defined); absorbing rows sit at chain position 0 by
            # construction (all earlier rows of the key were dropped).
            # [order]: the accumulator lanes live in length-desc order,
            # not cid order
            chain_kidx = seed_kidx[starts][order]
            acc_a = [
                np.where(f0, seed_vec[i][chain_kidx], cxs[i] * v0)
                for i in range(d)
            ]
        else:
            acc_a = [
                np.where(f0, fas[i] * v0, cxs[i] * v0) for i in range(d)
            ]
        neg = -lens_sorted
        for t in range(1, lmax):
            nt = int(np.searchsorted(neg, -t, side="left"))
            xv = vmat[:nt, t]
            ft = fmat[:nt, t]
            anyf = bool(ft.any())
            new_m = [[None] * d for _ in range(d)]
            new_a = [None] * d
            for i in range(d):
                xm = [
                    np.where(ft, 0.0, m_rows[i][k]) if anyf else m_rows[i][k]
                    for k in range(d)
                ]
                for j in range(d):
                    e = xm[0] * acc_m[0][j][:nt]
                    for k in range(1, d):
                        e = e + xm[k] * acc_m[k][j][:nt]
                    new_m[i][j] = e
                e = xm[0] * acc_a[0][:nt]
                for k in range(1, d):
                    e = e + xm[k] * acc_a[k][:nt]
                xa = (
                    np.where(ft, fas[i] * xv, cxs[i] * xv)
                    if anyf
                    else cxs[i] * xv
                )
                new_a[i] = e + xa
            for i in range(d):
                for j in range(d):
                    acc_m[i][j][:nt] = new_m[i][j]
                acc_a[i][:nt] = new_a[i]
        # back to (key, bk)-sorted chain order for the carry
        cm = [[acc_m[i][j][rank] for j in range(d)] for i in range(d)]
        ca = [acc_a[i][rank] for i in range(d)]
        # ---- phase B: per-key carry over chains in bk order ----------
        ckey = key[starts]
        ckc = kc[starts]  # factorized codes: NULL chains are ONE key
        bkb = np.ones(n_chains, dtype=bool)
        bkb[1:] = ckc[1:] != ckc[:-1]
        bstarts = np.flatnonzero(bkb)
        n_keys = len(bstarts)
        blens = np.diff(np.append(bstarts, n_chains))
        border = np.argsort(-blens, kind="stable")
        brank = np.empty(n_keys, dtype=np.int64)
        brank[border] = np.arange(n_keys)
        bcid = np.cumsum(bkb) - 1
        bnewcid = brank[bcid]
        bpos = np.arange(n_chains) - np.repeat(bstarts, blens)
        blens_sorted = blens[border]
        blmax = int(blens_sorted[0])

        def padb(arr):
            a = np.zeros((n_keys, blmax))
            a[bnewcid, bpos] = arr
            return a

        pm = [[padb(cm[i][j]) for j in range(d)] for i in range(d)]
        pa = [padb(ca[i]) for i in range(d)]
        km = [[pm[i][j][:, 0].copy() for j in range(d)] for i in range(d)]
        ka = [pa[i][:, 0].copy() for i in range(d)]
        bneg = -blens_sorted
        for t in range(1, blmax):
            nt = int(np.searchsorted(bneg, -t, side="left"))
            xm = [[pm[i][k][:nt, t] for k in range(d)] for i in range(d)]
            xa = [pa[i][:nt, t] for i in range(d)]
            new_m = [[None] * d for _ in range(d)]
            new_a = [None] * d
            for i in range(d):
                for j in range(d):
                    e = xm[i][0] * km[0][j][:nt]
                    for k in range(1, d):
                        e = e + xm[i][k] * km[k][j][:nt]
                    new_m[i][j] = e
                e = xm[i][0] * ka[0][:nt]
                for k in range(1, d):
                    e = e + xm[i][k] * ka[k][:nt]
                new_a[i] = e + xa[i]
            for i in range(d):
                for j in range(d):
                    km[i][j][:nt] = new_m[i][j]
                ka[i][:nt] = new_a[i]
        level, trend, season = ka[0], ka[1], ka[d - 1]
        forecast = level + trend
        forecast = forecast + season
        if seed == "classical":
            # scatter the primed lanes back over ALL keys (unprimed keys
            # emit NaN + primed=False; the engine wrapper nulls them)
            out_kidx = seed_kidx[starts][bstarts][border]
            n_all = len(all_keys)
            cols = {}
            for name, lane in (
                ("level", level),
                ("trend", trend),
                ("season_next", season),
                ("forecast_1", forecast),
            ):
                full = np.full(n_all, np.nan)
                full[out_kidx] = lane
                cols[name] = full
            primed = np.zeros(n_all, dtype=bool)
            primed[out_kidx] = True
            return pd.DataFrame(
                {
                    "key": all_keys,
                    "n_obs": all_nobs,
                    "primed": primed,
                    **cols,
                }
            )
        # klens is per key in key-sorted order == bcid order; reorder to
        # the length-desc lane order the accumulators live in
        n_obs = klens.astype(np.int64)[border]
        return pd.DataFrame(
            {
                "key": key[kstarts][border],
                "n_obs": n_obs,
                "primed": np.ones(n_keys, dtype=bool),
                "level": level,
                "trend": trend,
                "season_next": season,
                "forecast_1": forecast,
            }
        )

    return fold


def _matrix_carry_per_key(per_bucket: DataFrame, d: int, fields) -> DataFrame:
    """Phase-2 carry of the HOF path: fold each key's dimension-sized
    bucket list (#buckets rows) in bk order with the generated matrix
    compose. Input: (key, bk, n, p struct)."""
    return per_bucket.groupBy("key").agg(
        F.sum("n").alias("n_obs"),
        _matrix_affine_fold(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("bk"),
                            *[F.col("p").getField(f).alias(f) for f in fields],
                        )
                    )
                ),
                lambda s: F.struct(
                    *[s.getField(f).alias(f) for f in fields]
                ),
            ),
            d,
        ).alias("p"),
    )


def holt_winters_by_key(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    period: int = 4,
    bucket: str = "month",
    impl: str = "arrow",
    n_shards: int | None = None,
    seed: str = "zero",
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per key — the proof the
    segmented-scan machinery covers any linear recurrence: the
    (period+2)-dimensional state [level, trend, p seasonal slots] is
    still an affine map per element, so the same per-(key, bucket)
    fold + dimension-sized carry applies with a (p+2)x(p+2) matrix
    composition (engine and oracle expressions are GENERATED from the
    same index loops — parity by construction, hash-checked).

    Seeding (``seed``): ``'zero'`` (default) — l_1 = x_1, b_1 = 0,
    seasonals zero-initialized and learned through gamma (the absorbing
    first map); the deterministic, replayable choice. ``'classical'``
    (fused-Arrow path only) — textbook p-observation priming: the first
    p observations are consumed into l_0 = mean(x_1..x_p),
    b_0 = (x_p - x_1)/(p-1), s_i = x_i - l_0, and the recurrence runs
    from x_{p+1}; keys with fewer than p observations return NULL
    smoothed fields (n_obs still real).

    ``impl`` picks the execution strategy; both are bit-identical
    (same scalar op order per chain — hash-proven by test):

    - ``'arrow'`` (default): FUSED fused-Arrow path — ONE exchange
      (shard by ``xxhash64(key)``, whole keys per shard, 5 narrow
      columns), then first-element detection, the per-(key, bucket)
      chain folds, and the per-key bucket carry all run in numpy,
      vectorized across chains/keys with one Python step per chain
      POSITION (steps = max chain length, not total rows). This is the
      production path: the HOF compose is ~(p+2)^2·(p+3) interpreted
      expressions per element (lambda HOFs don't codegen), measured 12x
      the per-row cost. Shard memory is bounded by rows/shard — a whole
      key lands in one shard, so for pathologically hot keys use
      ``'hof'``.
    - ``'hof'``: the all-JVM expression fold — the parity anchor whose
      arithmetic the oracle SQL mirrors by construction. It groups by
      (key, bucket), so memory is bounded per (key, bucket) and a hot
      key spreads across its buckets.

    Returns (key, n_obs, level, trend, season_next, forecast_1) where
    season_next = s_{t+1-p} (the slot the next step consumes) and
    forecast_1 = level + trend + season_next."""
    d = period + 2
    m, cx = _hw_transition(alpha, beta, gamma, period)
    first_a = [1.0] + [0.0] * (d - 1)  # addend = [x, 0, ...] for the seed
    fields = [f"m_{i}_{j}" for i in range(d) for j in range(d)] + [
        f"a_{i}" for i in range(d)
    ]
    ts, vid = F.col(ts_col), F.col(id_col)
    base = df.select(
        F.col(key_col).alias("key"),
        ts.alias("ts"),
        vid.alias("id"),
        F.col(value_col).cast("double").alias("v"),
        F.date_trunc(bucket, ts).alias("bk"),
    )
    if n_shards is None:
        n_shards = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    kt = base.schema["key"].dataType.simpleString()
    if seed not in ("zero", "classical"):
        raise ValueError(f"unknown seed {seed!r} (expected 'zero'|'classical')")
    if seed == "classical" and impl != "arrow":
        raise ValueError("seed='classical' is implemented on impl='arrow'")
    if impl not in ("arrow", "hof"):
        raise ValueError(f"unknown impl {impl!r} (expected 'arrow' or 'hof')")
    if impl == "arrow":
        # fused single-stage path: ONE exchange (the shard groupBy), no
        # firsts aggregate/join — whole keys per shard, so the first
        # element, chain folds, and bucket carry all happen in numpy
        sharded = base.withColumn(
            "_shard", F.pmod(F.xxhash64("key"), F.lit(n_shards))
        )
        out_schema = (
            f"key {kt}, n_obs bigint, primed boolean, level double, "
            "trend double, season_next double, forecast_1 double"
        )
        res = sharded.groupBy("_shard").applyInPandas(
            _arrow_fused_fold_fn(m, cx, first_a, d, seed), out_schema
        )
        if seed == "classical":
            # unprimed keys carry NaN lanes from the Arrow fn; surface
            # them as SQL NULLs (what the oracle's LEFT JOIN produces)
            smoothed = ["level", "trend", "season_next", "forecast_1"]
            return res.select(
                "key",
                "n_obs",
                *[
                    F.when(F.col("primed"), F.col(c))
                    .otherwise(F.lit(None).cast("double"))
                    .alias(c)
                    for c in smoothed
                ],
            )
        return res.drop("primed")
    # the HOF path: the min-struct firsts aggregate marks each key's
    # absorbing element (the fused path detects it in numpy)
    firsts = base.groupBy("key").agg(
        F.min(F.struct(F.col("ts"), F.col("id"))).alias("_first")
    )
    is_first = F.struct(F.col("ts"), F.col("id")) == F.col("_first")
    cols = []
    for i in range(d):
        for j in range(d):
            cols.append(
                F.when(is_first, F.lit(0.0))
                .otherwise(F.lit(m[i][j]))
                .alias(f"m_{i}_{j}")
            )
    for i in range(d):
        cols.append(
            F.when(is_first, F.lit(first_a[i]) * F.col("v"))
            .otherwise(F.lit(cx[i]) * F.col("v"))
            .alias(f"a_{i}")
        )
    mapped = _join_firsts(base, firsts).select(
        "key", "bk", "ts", "id", *cols
    )
    per_bucket = mapped.groupBy("key", "bk").agg(
        F.count(F.lit(1)).alias("n"),
        _matrix_affine_fold(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "id", *fields))
                ),
                lambda s: F.struct(
                    *[s.getField(f).alias(f) for f in fields]
                ),
            ),
            d,
        ).alias("p"),
    )
    per_key = _matrix_carry_per_key(per_bucket, d, fields)
    level = F.col("p").getField("a_0")
    trend = F.col("p").getField("a_1")
    season_next = F.col("p").getField(f"a_{d - 1}")
    return per_key.select(
        "key",
        "n_obs",
        level.alias("level"),
        trend.alias("trend"),
        season_next.alias("season_next"),
        (level + trend + season_next).alias("forecast_1"),
    )


def sql_holt_winters_by_key(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    period: int = 4,
    where: str = "1=1",
    bucket: str = "month",
) -> str:
    """DuckDB replay, generated from the SAME index loops as the engine
    fold (list accumulator — the struct_pack aliasing trap — laid out
    [m_0_0..m_{d-1}_{d-1}, a_0..a_{d-1}], 1-based SQL indexing)."""
    d = period + 2
    m, cx = _hw_transition(alpha, beta, gamma, period)

    def midx(i, j):
        return i * d + j + 1

    def aidx(i):
        return d * d + i + 1

    comp_elems = []
    for i in range(d):
        for j in range(d):
            comp_elems.append(
                " + ".join(
                    f"x[{midx(i, k)}] * acc[{midx(k, j)}]" for k in range(d)
                )
            )
    for i in range(d):
        s = " + ".join(f"x[{midx(i, k)}] * acc[{aidx(k)}]" for k in range(d))
        comp_elems.append(f"{s} + x[{aidx(i)}]")
    comp = "(acc, x) -> [" + ", ".join(comp_elems) + "]"

    first_a = [1.0] + [0.0] * (d - 1)
    map_elems = []
    for i in range(d):
        for j in range(d):
            map_elems.append(
                f"CAST(CASE WHEN rn = 1 THEN 0.0 ELSE {m[i][j]} END AS DOUBLE)"
            )
    for i in range(d):
        map_elems.append(
            f"CASE WHEN rn = 1 THEN {first_a[i]} * v ELSE {cx[i]} * v END"
        )
    maps_list = "[" + ", ".join(map_elems) + "]"
    return f"""
    WITH base AS (
        SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
            CAST({value_col} AS DOUBLE) AS v,
            date_trunc('{bucket}', {ts_col}) AS bk,
            row_number() OVER (PARTITION BY {key_col}
                               ORDER BY {ts_col}, {id_col}) AS rn
        FROM {table} WHERE {where}
    ), maps AS (
        SELECT key, bk, ts, id, {maps_list} AS mp FROM base
    ), per_bucket AS (
        SELECT key, bk, count(*) AS n,
            list_reduce(list(mp ORDER BY ts, id), {comp}) AS p
        FROM maps GROUP BY key, bk
    ), per_key AS (
        SELECT key, CAST(sum(n) AS BIGINT) AS n_obs,
            list_reduce(list(p ORDER BY bk), {comp}) AS p
        FROM per_bucket GROUP BY key
    )
    SELECT key, n_obs, p[{aidx(0)}] AS level, p[{aidx(1)}] AS trend,
        p[{aidx(d - 1)}] AS season_next,
        p[{aidx(0)}] + p[{aidx(1)}] + p[{aidx(d - 1)}] AS forecast_1
    FROM per_key
    """


def sql_holt_winters_classical_by_key(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    period: int = 4,
    where: str = "1=1",
    bucket: str = "month",
) -> str:
    """DuckDB replay of ``holt_winters_by_key(seed='classical')`` — the
    same generated matrix fold, seeded by the textbook p-observation
    priming: the key's first p values fold to l0 = mean (list_reduce
    ascending, one divide — the engine's numpy loop exactly), b0 =
    (x_p - x_1)/(p-1), s_i = x_i - l0; the seed enters as the absorbing
    element at the p-th row's position and rows before it drop. Keys
    with fewer than p observations LEFT-JOIN in as NULL smoothed
    fields (the engine's primed=False)."""
    d = period + 2
    p = period
    m, cx = _hw_transition(alpha, beta, gamma, period)

    def midx(i, j):
        return i * d + j + 1

    def aidx(i):
        return d * d + i + 1

    comp_elems = []
    for i in range(d):
        for j in range(d):
            comp_elems.append(
                " + ".join(
                    f"x[{midx(i, k)}] * acc[{midx(k, j)}]" for k in range(d)
                )
            )
    for i in range(d):
        s = " + ".join(f"x[{midx(i, k)}] * acc[{aidx(k)}]" for k in range(d))
        comp_elems.append(f"{s} + x[{aidx(i)}]")
    comp = "(acc, x) -> [" + ", ".join(comp_elems) + "]"

    # absorbing seed element: zero matrix + the primed state vector
    seed_elems = ["CAST(0.0 AS DOUBLE)"] * (d * d)
    seed_elems.append("s.l0")
    seed_elems.append("s.b0")
    for i in range(p):  # a_{2+i} = s_i = x_{p-i} - l0
        seed_elems.append(f"s.f[{p - i}] - s.l0")
    # regular element: the constant transition + cx*v addend
    reg_elems = []
    for i in range(d):
        for j in range(d):
            reg_elems.append(f"CAST({m[i][j]} AS DOUBLE)")
    for i in range(d):
        reg_elems.append(f"CAST({cx[i]} AS DOUBLE) * b.v")
    b0_expr = (
        f"(f[{p}] - f[1]) / {float(p - 1)}" if p > 1 else "CAST(0.0 AS DOUBLE)"
    )
    return f"""
    WITH base AS (
        SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
            CAST({value_col} AS DOUBLE) AS v,
            date_trunc('{bucket}', {ts_col}) AS bk,
            row_number() OVER (PARTITION BY {key_col}
                               ORDER BY {ts_col}, {id_col}) AS rn
        FROM {table} WHERE {where}
    ), kc AS (
        SELECT key, count(*) AS n_obs FROM base GROUP BY key
    ), seed AS (
        SELECT key, f,
            list_reduce(f, (a, b) -> a + b) / {float(p)} AS l0,
            {b0_expr} AS b0
        FROM (
            SELECT key, list(v ORDER BY ts, id)[1:{p}] AS f
            FROM base GROUP BY key HAVING count(*) >= {p}
        )
    ), maps AS (
        SELECT b.key, b.bk, b.ts, b.id,
            CASE WHEN b.rn = {p}
                THEN [{", ".join(seed_elems)}]
                ELSE [{", ".join(reg_elems)}]
            END AS mp
        FROM base b JOIN seed s USING (key)
        WHERE b.rn >= {p}
    ), per_bucket AS (
        SELECT key, bk, list_reduce(list(mp ORDER BY ts, id), {comp}) AS p
        FROM maps GROUP BY key, bk
    ), per_key AS (
        SELECT key, list_reduce(list(p ORDER BY bk), {comp}) AS p
        FROM per_bucket GROUP BY key
    )
    SELECT kc.key, kc.n_obs,
        p[{aidx(0)}] AS level, p[{aidx(1)}] AS trend,
        p[{aidx(d - 1)}] AS season_next,
        p[{aidx(0)}] + p[{aidx(1)}] + p[{aidx(d - 1)}] AS forecast_1
    FROM kc LEFT JOIN per_key USING (key)
    """


def time_weighted_avg(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average per key (the TimescaleDB ``time_weight``
    semantics, last-observation-carried-forward): each observation
    holds its value until the next one, so TWA = sum(v_i * dt_i) /
    sum(dt_i) with dt_i the microseconds to the key's next event; the
    final observation contributes no duration. Keys with no duration at
    all return NULL — both the single-event case (sum(dt) NULL) and the
    all-events-at-one-timestamp case (sum(dt) = 0; try_divide, because
    the ANSI session would otherwise raise DIVIDE_BY_ZERO where the
    oracle's NULL-on-zero division degrades quietly).

    Plan: one per-key lead window (partitions bounded by per-key event
    counts) + a combinable aggregate. Returns (key, n_obs, twa) with
    twa rounded 6dp (the weighted sums' partition order differs across
    engines at the last ulp)."""
    # NULL-ts observations are excluded on BOTH engines (r10 second
    # review pass): they carry no duration and no position in the LOCF
    # order, and ts is the window order key where Spark places NULLs
    # FIRST but DuckDB LAST — filtering keeps n_obs and the dt chain
    # engine-agnostic.
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    dt = (
        F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col))
    ).cast("double")
    stepped = df.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("key"),
        F.col(value_col).cast("double").alias("v"),
        dt.alias("dt"),
    )
    return stepped.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(
            F.try_divide(F.sum(F.col("v") * F.col("dt")), F.sum("dt")), 6
        ).alias("twa"),
    )


def sql_time_weighted_avg(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``time_weighted_avg`` (same lead window, same
    weighted-sum arithmetic; epoch_us mirrors unix_micros)."""
    return f"""
    WITH stepped AS (
        SELECT {key_col} AS key, CAST({value_col} AS DOUBLE) AS v,
            CAST(epoch_us(lead({ts_col}) OVER (PARTITION BY {key_col}
                     ORDER BY {ts_col}, {id_col}))
                 - epoch_us({ts_col}) AS DOUBLE) AS dt
        FROM {table} WHERE ({where}) AND {ts_col} IS NOT NULL
    )
    SELECT key, count(*) AS n_obs,
        round(sum(v * dt) / sum(dt), 6) AS twa
    FROM stepped GROUP BY key
    """


def m4_downsample(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    n_buckets: int = 100,
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    equal-width time bucket keep the FIRST, LAST, MIN-value, and
    MAX-value points — the lossless-for-pixels reduction every
    time-series dashboard runs before plotting. One row per
    (bucket, role); a point filling several roles appears once per
    role (the M4 contract).

    Plan: the time extent comes from one scalar aggregate joined back
    by broadcast (in-plan, no driver collect); then ONE combinable
    min/max-of-struct aggregate per bucket — deterministic tie-breaks
    via (ts, id) / (v, ts, id) struct ordering. Output is
    4 x n_buckets rows regardless of input size."""
    # NULL timestamps can't bucket and NULL values carry no pixel — and
    # unfiltered they would diverge from the oracle (Spark struct-min
    # sorts NULLs first, DuckDB ORDER BY defaults NULLS LAST)
    df = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    ext = df.agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("_lo"),
        F.max(F.unix_micros(F.col(ts_col))).alias("_hi"),
    )
    based = df.select(
        F.unix_micros(F.col(ts_col)).alias("_us"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
    ).crossJoin(F.broadcast(ext))
    b = (
        (F.col("_us") - F.col("_lo"))
        * n_buckets
        / (F.col("_hi") - F.col("_lo") + 1)
    ).cast("long")
    per_bucket = based.groupBy(b.alias("bucket")).agg(
        F.min(F.struct("ts", "id", "v")).alias("_first"),
        F.max(F.struct("ts", "id", "v")).alias("_last"),
        F.min(F.struct("v", "ts", "id")).alias("_min"),
        F.max(F.struct("v", "ts", "id")).alias("_max"),
    )
    roles = F.array(
        F.struct(
            F.lit("first").alias("role"),
            F.col("_first.ts").alias("ts"),
            F.col("_first.v").alias("v"),
        ),
        F.struct(
            F.lit("last").alias("role"),
            F.col("_last.ts").alias("ts"),
            F.col("_last.v").alias("v"),
        ),
        F.struct(
            F.lit("vmin").alias("role"),
            F.col("_min.ts").alias("ts"),
            F.col("_min.v").alias("v"),
        ),
        F.struct(
            F.lit("vmax").alias("role"),
            F.col("_max.ts").alias("ts"),
            F.col("_max.v").alias("v"),
        ),
    )
    return per_bucket.select(
        "bucket", F.explode(roles).alias("_r")
    ).select(
        "bucket",
        F.col("_r.role").alias("role"),
        F.col("_r.ts").alias("ts"),
        F.col("_r.v").alias("v"),
    )


def sql_m4_downsample(
    table: str = "events",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    n_buckets: int = 100,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``m4_downsample`` — the struct-min/max picks
    replayed as rn=1 windows with identical (ts, id) / (v, ts, id)
    orderings."""
    return f"""
    WITH src AS (
        SELECT * FROM {table}
        WHERE ({where}) AND {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
    ), ext AS (
        SELECT min(epoch_us({ts_col})) AS lo, max(epoch_us({ts_col})) AS hi
        FROM src
    ), based AS (
        -- floor before the cast: DuckDB CAST(double AS BIGINT) ROUNDS,
        -- Spark's .cast('long') truncates
        SELECT CAST(floor((epoch_us({ts_col}) - lo) * {n_buckets}
                    / (hi - lo + 1)) AS BIGINT) AS bucket,
            {ts_col} AS ts, {id_col} AS id,
            CAST({value_col} AS DOUBLE) AS v
        FROM src, ext
    ), ranked AS (
        SELECT bucket, ts, v,
            row_number() OVER (PARTITION BY bucket ORDER BY ts, id) AS rf,
            row_number() OVER (PARTITION BY bucket
                               ORDER BY ts DESC, id DESC) AS rl,
            row_number() OVER (PARTITION BY bucket ORDER BY v, ts, id) AS rmin,
            row_number() OVER (PARTITION BY bucket
                               ORDER BY v DESC, ts DESC, id DESC) AS rmax
        FROM based
    )
    SELECT bucket, 'first' AS role, ts, v FROM ranked WHERE rf = 1
    UNION ALL
    SELECT bucket, 'last', ts, v FROM ranked WHERE rl = 1
    UNION ALL
    SELECT bucket, 'vmin', ts, v FROM ranked WHERE rmin = 1
    UNION ALL
    SELECT bucket, 'vmax', ts, v FROM ranked WHERE rmax = 1
    """


def seasonal_decompose_daily(
    df: DataFrame,
    ts_col: str = "ts",
    trend_window: int = 3,
) -> DataFrame:
    """Classical additive seasonal decomposition of the DAILY EVENT
    COUNT series: observed = trend + seasonal + remainder, with trend a
    centered (2*w+1)-day moving average and seasonal the mean detrended
    value per day-of-week — the STL-lite drift lens for ops dashboards.

    Plan: one daily-count fold joined onto a dense CALENDAR SPINE
    (zero-event days are real observations of 0 — without them the
    ROWS-framed moving average would treat non-consecutive days as
    adjacent and the seasonal means would miss the zeros), then a
    single ordered window over the day series (dimension-sized
    partition — the same contract as every calendar frame here) and a
    7-row day-of-week aggregate broadcast back. Returns (day, observed,
    trend, seasonal, remainder) rounded 6dp."""
    counts = (
        df.select(F.date_trunc("day", F.col(ts_col)).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("double").alias("observed"))
    )
    ext = counts.agg(
        F.min("d").alias("_lo"), F.max("d").alias("_hi")
    )
    spine = ext.select(
        F.explode(
            F.sequence(
                F.col("_lo"), F.col("_hi"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "d", F.coalesce("observed", F.lit(0.0)).alias("observed")
    )
    w = Window.orderBy("d").rowsBetween(-trend_window, trend_window)
    trended = daily.select(
        "d",
        "observed",
        F.avg("observed").over(w).alias("trend"),
    ).withColumn("_detr", F.col("observed") - F.col("trend"))
    dow = trended.groupBy(F.dayofweek("d").alias("_dw")).agg(
        F.avg("_detr").alias("seasonal")
    )
    return (
        trended.join(F.broadcast(dow), F.dayofweek("d") == F.col("_dw"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("observed"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("observed") - F.col("trend") - F.col("seasonal"), 6
            ).alias("remainder"),
        )
    )


def sql_seasonal_decompose_daily(
    table: str = "events",
    ts_col: str = "ts",
    trend_window: int = 3,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``seasonal_decompose_daily`` (same centered
    frame, same day-of-week means; dayofweek differs by one between the
    engines — Spark is 1=Sunday, DuckDB 0=Sunday — but both only use it
    as a GROUP key, so the constant shift is invisible)."""
    return f"""
    WITH counts AS (
        SELECT date_trunc('day', {ts_col}) AS d,
            CAST(count(*) AS DOUBLE) AS observed
        FROM {table} WHERE {where} GROUP BY 1
    ), ext AS (
        SELECT min(d) AS lo, max(d) AS hi FROM counts
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
        FROM ext
    ), daily AS (
        SELECT spine.d,
            coalesce(c.observed, CAST(0.0 AS DOUBLE)) AS observed
        FROM spine LEFT JOIN counts c USING (d)
    ), trended AS (
        SELECT d, observed,
            avg(observed) OVER (ORDER BY d ROWS BETWEEN {trend_window}
                PRECEDING AND {trend_window} FOLLOWING) AS trend
        FROM daily
    ), dow AS (
        SELECT dayofweek(d) AS dw, avg(observed - trend) AS seasonal
        FROM trended GROUP BY 1
    )
    SELECT strftime(t.d, '%Y-%m-%d') AS day, t.observed,
        round(t.trend, 6) AS trend,
        round(s.seasonal, 6) AS seasonal,
        round(t.observed - t.trend - s.seasonal, 6) AS remainder
    FROM trended t JOIN dow s ON dayofweek(t.d) = s.dw
    """


def weighted_median_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    id_col: str,
) -> DataFrame:
    """Exact LOWER weighted median per group: the smallest value whose
    running weight (in (value, id) order) reaches half the group's
    total weight — the robust center a quality-weighted corpus stat
    needs where plain medians ignore importance.

    Plan: one group-partitioned cumulative-weight window + a first-hit
    pick via min(struct) — no collect, parallel across groups. NULL and
    non-positive weights are excluded on both engines, and so are NULL
    VALUES (Spark's window would order them first, DuckDB last — the
    repo's standing NULL-ordering trap). Returns
    (group, total_w, wmedian)."""
    base = df.filter(
        F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
        F.col(weight_col).cast("double").alias("w"),
        F.col(id_col).alias("id"),
    )
    cw = Window.partitionBy("g").orderBy(F.col("v"), F.col("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tw = Window.partitionBy("g")
    marked = base.select(
        "g",
        "v",
        F.sum("w").over(cw).alias("_cw"),
        F.sum("w").over(tw).alias("_tw"),
    )
    return (
        marked.filter(F.col("_cw") * 2 >= F.col("_tw"))
        .groupBy("g")
        .agg(
            F.round(F.min("_tw"), 6).alias("total_w"),
            F.min("v").alias("wmedian"),
        )
    )


def sql_weighted_median_by_group(
    table: str,
    group_col: str,
    value_col: str,
    weight_col: str,
    id_col: str,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``weighted_median_by_group`` (same cumulative
    frame, same first-hit rule)."""
    return f"""
    WITH base AS (
        SELECT {group_col} AS g, CAST({value_col} AS DOUBLE) AS v,
            CAST({weight_col} AS DOUBLE) AS w, {id_col} AS id
        FROM {table}
        WHERE ({where}) AND {weight_col} IS NOT NULL AND {weight_col} > 0
            AND {value_col} IS NOT NULL
    ), marked AS (
        SELECT g, v,
            sum(w) OVER (PARTITION BY g ORDER BY v, id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
            sum(w) OVER (PARTITION BY g) AS tw
        FROM base
    )
    SELECT g, round(min(tw), 6) AS total_w, min(v) AS wmedian
    FROM marked WHERE cw * 2 >= tw
    GROUP BY g
    """


# ---------------------------------------------------------------------------
# single-changepoint detection (binary-segmentation step)
# ---------------------------------------------------------------------------

def changepoint_daily(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Single change-point detection on the daily event-count series —
    one step of binary segmentation (Scott & Knott): the split
    minimizing the two-segment squared error
    SSE(t) = Σ_{≤t}(x−x̄₁)² + Σ_{>t}(x−x̄₂)², evaluated in closed form
    from prefix sums (ss − s²/n per segment — no per-split rescan).
    Returns one row: (split_day = last day of the left segment,
    n_before, n_after, mean_before, mean_after, sse_total, sse_split),
    6dp. Recursing on the winning halves = full binary segmentation;
    one level is the alarm most monitoring wants.

    Plan: ONE fact pass to daily counts, then prefix-sum windows over
    the DAY-dimension frame (aggregate grain, the family contract) and
    an argmin by (sse, day) — deterministic: both engines order the
    same closed-form doubles."""
    from pyspark.sql import Window

    daily = (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.date_format(F.to_date(ts_col), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    daily = pooled_persist(daily)  # prefix pass + totals
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss1"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    j = pre.crossJoin(F.broadcast(tot)).filter(F.col("i") < F.col("nd"))
    i = F.col("i").cast("double")
    rest = (F.col("nd") - F.col("i")).cast("double")
    s1 = F.col("s1").cast("double")
    s2 = (F.col("s") - F.col("s1")).cast("double")
    sse = (
        F.col("ss1").cast("double")
        - s1 * s1 / i
        + (F.col("ss") - F.col("ss1")).cast("double")
        - s2 * s2 / rest
    )
    sse_tot = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("nd").cast("double")
    )
    scored = j.select(
        "day",
        F.col("i").alias("n_before"),
        (F.col("nd") - F.col("i")).alias("n_after"),
        (s1 / i).alias("_mb"),
        (s2 / rest).alias("_ma"),
        sse_tot.alias("_sse_tot"),
        sse.alias("_sse"),
    )
    w_best = Window.orderBy(F.col("_sse").asc(), F.col("day").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w_best))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("day").alias("split_day"),
            "n_before",
            "n_after",
            F.round("_mb", 6).alias("mean_before"),
            F.round("_ma", 6).alias("mean_after"),
            F.round("_sse_tot", 6).alias("sse_total"),
            F.round("_sse", 6).alias("sse_split"),
        )
    )


def sql_changepoint_daily(
    table: str = "events",
    ts_col: str = "ts",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``changepoint_daily`` (same prefix-sum closed
    form, same (sse, day) argmin)."""
    return f"""
    WITH daily AS (
        SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS day,
            count(*) AS n
        FROM {table} WHERE ({where}) AND {ts_col} IS NOT NULL
        GROUP BY 1
    ), pre AS (
        SELECT day,
            row_number() OVER (ORDER BY day) AS i,
            sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS s1,
            sum(n * n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS ss1
        FROM daily
    ), tot AS (
        SELECT count(*) AS nd, sum(n) AS s, sum(n * n) AS ss FROM daily
    ), scored AS (
        SELECT day,
            CAST(i AS BIGINT) AS n_before,
            CAST(nd - i AS BIGINT) AS n_after,
            CAST(s1 AS DOUBLE) / i AS mb,
            CAST(s - s1 AS DOUBLE) / (nd - i) AS ma,
            CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nd AS sse_tot,
            CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / i
                + CAST(ss - ss1 AS DOUBLE)
                - CAST(s - s1 AS DOUBLE) * (s - s1) / (nd - i) AS sse
        FROM pre, tot
        WHERE i < nd
    )
    SELECT day AS split_day, n_before, n_after,
        round(mb, 6) AS mean_before, round(ma, 6) AS mean_after,
        round(sse_tot, 6) AS sse_total, round(sse, 6) AS sse_split
    FROM scored ORDER BY sse, day LIMIT 1
    """


def ewma_backtest(
    series: DataFrame,
    time_col: str = "d",
    value_col: str = "y",
    alpha: float = 0.5,
) -> DataFrame:
    """One-step-ahead EWMA backtest over an AGGREGATE-GRAIN series
    (e.g. the daily-count rollup of an event log): the forecast for
    step t is the EWMA state after step t-1, and the readout is the
    error profile a forecasting change ships against — MAE, RMSE and
    SMAPE (the 2|e|/(|y|+|yhat|) flavor) over every step that has a
    prior state, plus n_steps. One row out, all metrics rounded 6dp.

    The recurrence s_t = alpha*x_t + r*s_{t-1} (r = 1-alpha, s_1 =
    x_1) is evaluated as a RESCALED PREFIX SUM, not a loop: with
    S_t = s_t / r^t the recurrence telescopes to the cumulative sum
    S_t = x_1/r + sum_{i=2..t} alpha * x_i * r^{-i}, one ordered
    window over the series. With the default ``alpha = 0.5`` every
    rescale factor is an exact power of two, so Spark and the DuckDB
    oracle produce BIT-IDENTICAL doubles (the same trick that makes
    this family's other anchors hash-checkable); other alphas are
    fine for Spark-side use but cross-engine parity then depends on
    libm pow agreement. Rescaling bounds the series length: r^-t
    must stay finite, i.e. ~1000 steps at alpha=0.5 — the operator's
    contract is aggregate grain (daily/hourly rollups), where that is
    years of history; for event-grain EWMA use the segmented
    ``ewma_by_key`` scan instead.

    Scale shape: the input is already dimension-sized (the caller's
    rollup did the data-sized work); the window is one ordered pass
    over it, and the metric fold is one row out."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(
            "ewma_backtest needs 0 < alpha < 1 (alpha=1 has no history "
            "to rescale; use lag(y) directly for the naive forecast)"
        )
    r = 1.0 - alpha
    x = F.col(value_col).cast("double")
    numbered = series.select(
        F.col(time_col).alias("_t"),
        x.alias("_y"),
        F.row_number().over(Window.orderBy(time_col)).alias("_rn"),
    )
    term = F.when(F.col("_rn") == 1, F.col("_y") / F.lit(r)).otherwise(
        F.lit(alpha) * F.col("_y") * F.pow(F.lit(r), -F.col("_rn"))
    )
    cumw = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scaled = numbered.select(
        "_t", "_y", "_rn", F.sum(term).over(cumw).alias("_S")
    )
    lagw = Window.orderBy("_t")
    pred = F.lag(F.col("_S") * F.pow(F.lit(r), F.col("_rn"))).over(lagw)
    errs = scaled.select(
        "_y", pred.alias("_p")
    ).filter(F.col("_p").isNotNull())
    e = F.col("_y") - F.col("_p")
    return errs.agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.round(F.avg(F.abs(e)), 6).alias("mae"),
        F.round(F.sqrt(F.avg(e * e)), 6).alias("rmse"),
        F.round(
            # 0/0 steps (y = yhat = 0) are DEFINED as 0, the SMAPE
            # convention — otherwise NULL would silently drop them from
            # the average while n_steps/mae/rmse still count them (r11
            # review)
            F.avg(
                F.when(
                    F.abs(F.col("_y")) + F.abs(F.col("_p")) == 0.0,
                    F.lit(0.0),
                ).otherwise(
                    2.0 * F.abs(e)
                    / (F.abs(F.col("_y")) + F.abs(F.col("_p")))
                )
            ),
            6,
        ).alias("smape"),
    )


def sql_ewma_backtest(
    series_cte: str,
    time_col: str = "d",
    value_col: str = "y",
    alpha: float = 0.5,
) -> str:
    """DuckDB replay of ``ewma_backtest`` — same rescaled prefix sum,
    same lag-one prediction, same metric rounding. ``series_cte`` is a
    SELECT body producing the (time, value) series."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(
            "sql_ewma_backtest needs 0 < alpha < 1 (same guard as the "
            "Spark half — alpha=1 renders a divide-by-zero rescale)"
        )
    r = 1.0 - alpha
    return f"""
    WITH series AS ({series_cte}),
    numbered AS (
        SELECT {time_col} AS _t, CAST({value_col} AS DOUBLE) AS _y,
            row_number() OVER (ORDER BY {time_col}) AS _rn
        FROM series
    ),
    scanned AS (
        SELECT _t, _y, _rn,
            sum(CASE WHEN _rn = 1 THEN _y / {r!r}
                     ELSE {alpha!r} * _y * power({r!r}, -_rn) END)
                OVER (ORDER BY _t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS _S
        FROM numbered
    ),
    preds AS (
        SELECT _y,
            lag(_S * power({r!r}, _rn)) OVER (ORDER BY _t) AS _p
        FROM scanned
    )
    SELECT CAST(count(*) AS BIGINT) AS n_steps,
        round(avg(abs(_y - _p)), 6) AS mae,
        round(sqrt(avg((_y - _p) * (_y - _p))), 6) AS rmse,
        round(avg(CASE WHEN abs(_y) + abs(_p) = 0 THEN 0.0
                 ELSE 2.0 * abs(_y - _p) / (abs(_y) + abs(_p)) END), 6)
            AS smape
    FROM preds
    WHERE _p IS NOT NULL
    """


def backtest_baselines(
    series: DataFrame,
    time_col: str = "d",
    value_col: str = "y",
    season: int = 7,
) -> DataFrame:
    """One-step-ahead error profile of the THREE classic forecasting
    baselines (Hyndman's nomenclature) over an aggregate-grain series
    — the floor every model backtest (ewma_backtest, the Holt family)
    must beat to justify itself:

    - ``naive``: yhat_t = y_{t-1}
    - ``snaive``: yhat_t = y_{t-season} (seasonal naive)
    - ``drift``: yhat_t = y_{t-1} + (y_{t-1} - y_1)/(t - 2) for t >= 3
      (the first/last-point line extended one step)

    Returns one row per method: (method, n_steps, mae, rmse, smape),
    SMAPE with the 0/0-is-0 convention, floats rounded 6dp. Each
    method is scored over exactly the steps where its prediction
    exists (naive: t>=2, snaive: t>season, drift: t>=3) — n_steps per
    row says which.

    Scale shape: the input is the caller's dimension-grain rollup;
    three lag windows over one ordered pass, then a per-method fold of
    the unpivoted (method, y, yhat) stream. Lag arithmetic only —
    exact engine parity without any rescaling trick."""
    w = Window.orderBy(time_col)
    x = F.col(value_col).cast("double")
    numbered = series.select(
        F.col(time_col).alias("_t"),
        x.alias("_y"),
        F.row_number().over(w).alias("_rn"),
        F.lag(x, 1).over(w).alias("_l1"),
        F.lag(x, season).over(w).alias("_ls"),
        F.first(x).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_y1"),
    )
    drift = F.when(
        F.col("_rn") >= 3,
        F.col("_l1")
        + (F.col("_l1") - F.col("_y1"))
        / (F.col("_rn").cast("double") - 2.0),
    )
    longf = numbered.select(
        "_y",
        F.expr("stack(3, 'naive', _l1, 'snaive', _ls, 'drift', NULL)")
        .alias("method", "_p0"),
        drift.alias("_drift"),
    ).select(
        "method",
        "_y",
        F.when(F.col("method") == "drift", F.col("_drift"))
        .otherwise(F.col("_p0"))
        .alias("_p"),
    ).filter(F.col("_p").isNotNull())
    e = F.col("_y") - F.col("_p")
    denom = F.abs(F.col("_y")) + F.abs(F.col("_p"))
    return longf.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.round(F.avg(F.abs(e)), 6).alias("mae"),
        F.round(F.sqrt(F.avg(e * e)), 6).alias("rmse"),
        F.round(
            F.avg(
                F.when(denom == 0.0, F.lit(0.0)).otherwise(
                    2.0 * F.abs(e) / denom
                )
            ),
            6,
        ).alias("smape"),
    )


def sql_backtest_baselines(
    series_cte: str,
    time_col: str = "d",
    value_col: str = "y",
    season: int = 7,
) -> str:
    """DuckDB replay of ``backtest_baselines`` (same lags, same drift
    line, same per-method step sets and SMAPE convention)."""
    return f"""
    WITH series AS ({series_cte}),
    numbered AS (
        SELECT {time_col} AS _t, CAST({value_col} AS DOUBLE) AS _y,
            row_number() OVER (ORDER BY {time_col}) AS _rn,
            lag(CAST({value_col} AS DOUBLE), 1)
                OVER (ORDER BY {time_col}) AS _l1,
            lag(CAST({value_col} AS DOUBLE), {season})
                OVER (ORDER BY {time_col}) AS _ls,
            first_value(CAST({value_col} AS DOUBLE))
                OVER (ORDER BY {time_col}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS _y1
        FROM series
    ),
    longf AS (
        SELECT 'naive' AS method, _y, _l1 AS _p FROM numbered
        UNION ALL
        SELECT 'snaive', _y, _ls FROM numbered
        UNION ALL
        SELECT 'drift', _y,
            CASE WHEN _rn >= 3
                 THEN _l1 + (_l1 - _y1) / (CAST(_rn AS DOUBLE) - 2.0)
            END
        FROM numbered
    )
    SELECT method, CAST(count(*) AS BIGINT) AS n_steps,
        round(avg(abs(_y - _p)), 6) AS mae,
        round(sqrt(avg((_y - _p) * (_y - _p))), 6) AS rmse,
        round(avg(CASE WHEN abs(_y) + abs(_p) = 0 THEN 0.0
                 ELSE 2.0 * abs(_y - _p) / (abs(_y) + abs(_p)) END), 6)
            AS smape
    FROM longf
    WHERE _p IS NOT NULL
    GROUP BY method
    """


# ---------------------------------------------------------------------------
# r11e: period-over-period report, attribute control chart
# ---------------------------------------------------------------------------

def period_over_period_weekly(
    df: DataFrame,
    ts_col: str = "ts",
    trailing: int = 4,
) -> DataFrame:
    """Week-over-week growth report: weekly event counts with the WoW
    percent change and a trailing ``trailing``-week moving average —
    the standing growth dashboard row. Weeks are ISO date_trunc
    buckets (Monday start on both engines).

    Plan: one week-grain fold off the raw stream, then lag/avg windows
    on the WEEK-grain frame (a year is 52 rows). Returns
    (week, n, wow_pct, avg_4w), 6dp; the first week's WoW is NULL."""
    weekly = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.date_trunc("week", ts_col).cast("date").alias("week")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("week")
    wma = Window.orderBy("week").rowsBetween(-(trailing - 1), 0)
    prev = F.lag("n").over(w)
    return weekly.select(
        "week",
        "n",
        F.round(
            F.try_divide((F.col("n") - prev) * 100.0, prev), 6
        ).alias("wow_pct"),
        F.round(F.avg("n").over(wma), 6).alias(f"avg_{trailing}w"),
    )


def sql_period_over_period_weekly(
    table: str = "events",
    ts_col: str = "ts",
    trailing: int = 4,
) -> str:
    """DuckDB replay of :func:`period_over_period_weekly` — same week
    truncation, same frames, NULL-on-first-week parity."""
    return f"""
    WITH weekly AS (
        SELECT date_trunc('week', {ts_col})::DATE AS week,
               count(*) AS n
        FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1
    )
    SELECT week, n,
        round((n - lag(n) OVER (ORDER BY week)) * 100.0
              / NULLIF(lag(n) OVER (ORDER BY week), 0), 6) AS wow_pct,
        round(avg(n) OVER (ORDER BY week
                           ROWS BETWEEN {trailing - 1} PRECEDING
                           AND CURRENT ROW), 6) AS avg_{trailing}w
    FROM weekly
    """


def p_chart_daily(
    df: DataFrame,
    success_col,
    ts_col: str = "ts",
    z: float = 3.0,
) -> DataFrame:
    """Attribute (p-) control chart on a daily success proportion:
    center line = pooled rate p̄, limits = p̄ ± z·sqrt(p̄(1−p̄)/n_d)
    per day (binomial sigma at each day's own sample size), flag =
    outside the limits — the SPC gate that separates routine daily
    wobble from a real shift (deploy regressions, data outages).

    ``success_col`` is a 0/1 integer Column. Plan: ONE day-grain fold
    (n, k), a one-row pooled-rate broadcast, then day-grain
    arithmetic. Returns (d, n, rate, lcl, ucl, flag), 6dp; LCL floors
    at 0, UCL caps at 1 (proportions)."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    daily = pooled_persist(
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(ts_col).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(success_col).alias("k"),
        )
    )
    pooled = daily.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("pbar")
    )
    rate = F.col("k").cast("double") / F.col("n")
    half = F.lit(z) * F.sqrt(
        F.col("pbar") * (1.0 - F.col("pbar")) / F.col("n")
    )
    lcl = F.greatest(F.col("pbar") - half, F.lit(0.0))
    ucl = F.least(F.col("pbar") + half, F.lit(1.0))
    return daily.crossJoin(F.broadcast(pooled)).select(
        "d",
        "n",
        F.round(rate, 6).alias("rate"),
        F.round(lcl, 6).alias("lcl"),
        F.round(ucl, 6).alias("ucl"),
        ((rate < lcl) | (rate > ucl)).cast("int").alias("flag"),
    )


def sql_p_chart_daily(
    table: str,
    success_expr: str,
    ts_col: str = "ts",
    z: float = 3.0,
) -> str:
    """DuckDB replay of :func:`p_chart_daily` — same pooled rate, same
    clamped limits; the flag compares the UNROUNDED rate to the
    UNROUNDED limits on both engines."""
    return f"""
    WITH daily AS (
        SELECT CAST({ts_col} AS DATE) AS d, count(*) AS n,
               sum({success_expr}) AS k
        FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1
    ), pooled AS (
        SELECT sum(k) * 1.0 / sum(n) AS pbar FROM daily
    )
    SELECT d, n,
        round(CAST(k AS DOUBLE) / n, 6) AS rate,
        round(greatest(pbar - {z!r} * sqrt(pbar * (1.0 - pbar) / n),
                       0.0), 6) AS lcl,
        round(least(pbar + {z!r} * sqrt(pbar * (1.0 - pbar) / n),
                    1.0), 6) AS ucl,
        CASE WHEN CAST(k AS DOUBLE) / n
                  < greatest(pbar - {z!r} * sqrt(pbar * (1.0 - pbar) / n), 0.0)
              OR CAST(k AS DOUBLE) / n
                  > least(pbar + {z!r} * sqrt(pbar * (1.0 - pbar) / n), 1.0)
             THEN 1 ELSE 0 END AS flag
    FROM daily CROSS JOIN pooled
    """


def interpolate_daily(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    value_filter=None,
) -> DataFrame:
    """Linear interpolation of a daily metric over calendar gaps: days
    inside [min, max] with no observation get the straight line between
    their nearest observed neighbors — the imputation flavor next to
    gapfill's zero-fill (zero-fill is right for counts, interpolation
    for LEVELS like averages or balances).

    Per day: observed = avg(value); missing days take
        prev + (next − prev) · (d − prev_d) / (next_d − prev_d)
    via ignore-null window walks in both directions. The spine's ends
    are observed by construction (the calendar spans observed days), so
    every gap is interior and the division is never by zero.

    Scale: the windows run on the CALENDAR-grain frame (the daily
    module contract); one fact pass. Returns
    (d, value, interpolated), 6dp."""
    filtered = df if value_filter is None else df.filter(value_filter)
    daily = (
        filtered.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.to_date(ts_col).alias("d"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("v"))
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    daily = pooled_persist(daily)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    spine = cal.join(daily, "d", "left")
    w_back = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_fwd = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last("v", ignorenulls=True).over(w_back)
    prev_d = F.last(
        F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True
    ).over(w_back)
    next_v = F.first("v", ignorenulls=True).over(w_fwd)
    next_d = F.first(
        F.when(F.col("v").isNotNull(), F.col("d")), ignorenulls=True
    ).over(w_fwd)
    interp = prev_v + (next_v - prev_v) * F.datediff(
        F.col("d"), prev_d
    ) / F.datediff(next_d, prev_d)
    return spine.select(
        "d",
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp),
            6,
        ).alias("value"),
        F.col("v").isNull().cast("int").alias("interpolated"),
    )


def sql_interpolate_daily(
    table: str = "events",
    ts_col: str = "ts",
    value_col: str = "value",
    where: str = "1=1",
) -> str:
    """DuckDB replay of :func:`interpolate_daily` — same spine, same
    ignore-null window walks, same straight line."""
    return f"""
    WITH daily AS (
        SELECT CAST({ts_col} AS DATE) AS d,
               avg(CAST({value_col} AS DOUBLE)) AS v
        FROM {table}
        WHERE ({where}) AND {ts_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1
    ), cal AS (
        SELECT unnest(generate_series(min(d), max(d),
                                      INTERVAL 1 DAY))::DATE AS d
        FROM daily
    ), spine AS (
        SELECT cal.d, daily.v FROM cal LEFT JOIN daily USING (d)
    ), walked AS (
        SELECT d, v,
            last_value(v IGNORE NULLS) OVER
                (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS prev_v,
            last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS prev_d,
            first_value(v IGNORE NULLS) OVER
                (ORDER BY d ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS next_v,
            first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS next_d
        FROM spine
    )
    SELECT d,
        round(CASE WHEN v IS NOT NULL THEN v
                   ELSE prev_v + (next_v - prev_v)
                        * date_diff('day', prev_d, d)
                        / date_diff('day', prev_d, next_d)
              END, 6) AS value,
        CASE WHEN v IS NULL THEN 1 ELSE 0 END AS interpolated
    FROM walked
    """


# ---------------------------------------------------------------------------
# r12: split-conformal forecast intervals + Page-Hinkley drift
# ---------------------------------------------------------------------------

def conformal_daily_forecast(
    events: DataFrame,
    ts_col: str = "ts",
    alpha: float = 0.1,
    calib_frac: float = 0.7,
    season: int = 7,
) -> DataFrame:
    """Split-conformal prediction intervals on the daily event-count
    series with a seasonal-naive point forecast (ŷ_t = y_{t-season}):
    nonconformity = |y − ŷ| on the first ``calib_frac`` of forecastable
    days, the interval half-width is the ⌈(n_cal+1)(1−α)⌉-th smallest
    calibration score (the finite-sample-valid split-conformal order
    statistic, Vovk/Lei-Wasserman), and every later day reports its
    interval plus a coverage flag — distribution-free ≥(1−α) marginal
    coverage with NO model assumptions, which is exactly what a
    monitoring pipeline wants around a cheap baseline forecast.

    Plan: ONE fact pass to daily counts, then lag/rank windows over the
    DAY-grain frame (the family contract); the calibration quantile is
    an order statistic of the day-grain score series — deterministic
    integer rank, no interpolation, so both engines agree exactly.

    Output (test days only): (day, y, yhat, lo, hi, covered), 6dp-free
    integers except the bounds."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    # CALENDAR-spined series (r12 review finding): lag(y, season) must
    # be `season` DAYS back, not rows back — one missing calendar day
    # would otherwise shift every later forecast off its weekday. Same
    # zero-fill contract as the other daily operators.
    daily = _daily_series(events, ts_col).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("y"),
    )
    w_lag = Window.orderBy("day")
    fc = daily.select(
        "day", "y", F.lag("y", season).over(w_lag).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    fc = pooled_persist(
        fc.withColumn("_rn", F.row_number().over(w_lag)).withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy())
        )
    )
    # calibration = the first floor(calib_frac * n) forecastable days
    n_cal = F.floor(F.col("_n") * F.lit(float(calib_frac))).cast("int")
    calib = fc.filter(F.col("_rn") <= n_cal).select(
        F.abs(F.col("y") - F.col("yhat")).alias("_score")
    )
    # ceil((n_cal + 1) * (1 - alpha))-th smallest score, clamped to
    # n_cal (the standard finite-sample index; clamp = infinite-width
    # guard is unreachable for alpha * (n_cal + 1) >= 1)
    w_s = Window.orderBy("_score")
    q = (
        calib.withColumn("_r", F.row_number().over(w_s))
        .withColumn("_nc", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(
            F.col("_r")
            == F.least(
                F.ceil(
                    (F.col("_nc") + 1) * F.lit(1.0 - float(alpha))
                ).cast("int"),
                F.col("_nc"),
            )
        )
        .select(F.col("_score").alias("_q"))
    )
    # reduce to EXACTLY one row (NULL when the calibration set is
    # empty) — the oracle's scalar subquery returns NULL there and
    # still emits the test rows; an empty cross join would drop them
    # (r12 review finding)
    q = q.agg(F.min("_q").alias("_q"))
    return (
        fc.filter(F.col("_rn") > n_cal)
        .crossJoin(F.broadcast(q))
        .select(
            "day",
            "y",
            "yhat",
            (F.col("yhat") - F.col("_q")).alias("lo"),
            (F.col("yhat") + F.col("_q")).alias("hi"),
            (
                (F.col("y") >= F.col("yhat") - F.col("_q"))
                & (F.col("y") <= F.col("yhat") + F.col("_q"))
            ).cast("int").alias("covered"),
        )
    )


def sql_conformal_daily_forecast(
    table: str = "events",
    ts_col: str = "ts",
    alpha: float = 0.1,
    calib_frac: float = 0.7,
    season: int = 7,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``conformal_daily_forecast`` (same calendar
    spine, same seasonal-naive day-lag, same floor split, same
    integer-rank order statistic)."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, where)}, dstr AS (
        SELECT strftime(d, '%Y-%m-%d') AS day, c AS y FROM series
    ), fc AS (
        SELECT day, y, lag(y, {season}) OVER (ORDER BY day) AS yhat
        FROM dstr
        QUALIFY yhat IS NOT NULL
    ), idx AS (
        SELECT day, y, yhat,
            row_number() OVER (ORDER BY day) AS rn,
            count(*) OVER () AS n
        FROM fc
    ), calib AS (
        SELECT abs(y - yhat) AS score FROM idx
        WHERE rn <= CAST(floor(n * {float(calib_frac)!r}) AS INTEGER)
    ), q AS (
        SELECT score AS qv FROM (
            SELECT score, row_number() OVER (ORDER BY score) AS r,
                count(*) OVER () AS nc
            FROM calib
        ) WHERE r = least(CAST(ceil((nc + 1) * {1.0 - float(alpha)!r})
                               AS INTEGER), nc)
    )
    SELECT day, y, yhat,
        yhat - (SELECT qv FROM q) AS lo,
        yhat + (SELECT qv FROM q) AS hi,
        CAST(y >= yhat - (SELECT qv FROM q)
             AND y <= yhat + (SELECT qv FROM q) AS INTEGER) AS covered
    FROM idx
    WHERE rn > CAST(floor(n * {float(calib_frac)!r}) AS INTEGER)
    """


def page_hinkley_daily(
    events: DataFrame,
    ts_col: str = "ts",
    delta: float = 0.0,
    lam: float = 50.0,
) -> DataFrame:
    """Page-Hinkley drift detector on the daily event-count series: the
    SEQUENTIAL mean-shift monitor (the online cousin of the offline
    ``changepoint_daily`` split) — cumulative deviation from the
    running mean, alarmed when it climbs ``lam`` above its running
    minimum:

        U_t = Σ_{i≤t} (x_i − x̄_i − δ),   PH_t = U_t − min_{s≤t} U_s,
        drift_t = PH_t > λ

    with x̄_i the running mean THROUGH i (each term uses the mean the
    detector had seen at that point — the streaming formulation, so a
    backfill replay gives byte-identical alarms to the live monitor).

    Plan: one fact pass to daily counts, then three stacked running
    windows on the DAY-grain frame.  Output per day:
    (day, y, run_mean, u, ph, drift), 6dp."""
    from pyspark.sql import Window

    daily = (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.date_format(F.to_date(ts_col), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = daily.select(
        "day",
        "y",
        F.avg("y").over(w_run).alias("_m"),
    ).select(
        "day",
        "y",
        "_m",
        (F.col("y") - F.col("_m") - F.lit(float(delta))).alias("_term"),
    )
    u = F.sum("_term").over(w_run)
    with_u = stepped.select("day", "y", "_m", u.alias("_u"))
    ph = F.col("_u") - F.min("_u").over(w_run)
    return with_u.select(
        "day",
        "y",
        F.round("_m", 6).alias("run_mean"),
        F.round("_u", 6).alias("u"),
        F.round(ph, 6).alias("ph"),
        (ph > F.lit(float(lam))).cast("int").alias("drift"),
    )


def sql_page_hinkley_daily(
    table: str = "events",
    ts_col: str = "ts",
    delta: float = 0.0,
    lam: float = 50.0,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``page_hinkley_daily`` (same running-mean-
    through-i formulation, same window stack and rounding)."""
    return f"""
    WITH daily AS (
        SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS day,
            count(*) AS y
        FROM {table} WHERE ({where}) AND {ts_col} IS NOT NULL
        GROUP BY 1
    ), stepped AS (
        SELECT day, y,
            avg(y) OVER w AS m,
            y - avg(y) OVER w - {float(delta)!r} AS term
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), cum AS (
        SELECT day, y, m,
            sum(term) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS u
        FROM stepped
    )
    SELECT day, y, round(m, 6) AS run_mean, round(u, 6) AS u,
        round(u - min(u) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW), 6) AS ph,
        CAST((u - min(u) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW)) > {float(lam)!r} AS INTEGER)
            AS drift
    FROM cum
    """


# ---------------------------------------------------------------------------
# r12d: Theta-method forecast — the M3 benchmark classic
# ---------------------------------------------------------------------------


def theta_forecast_daily(
    events: DataFrame,
    ts_col: str = "ts",
    alpha: float = 0.2,
    horizon: int = 7,
) -> DataFrame:
    """Classical two-line Theta forecast of the daily event-count
    series (Assimakopoulos & Nikolopoulos; the M3-competition winner):
    decompose into the θ=0 line (the pure linear trend, long-run
    signal) and the θ=2 line z_t = 2·y_t − (a + b·t) (double-curvature,
    short-run signal), forecast the first by extrapolation and the
    second by simple exponential smoothing, and average:

        ŷ(h) = ½·(a + b·(n−1+h)) + ½·SES_n(z)

    SES_n is the CLOSED-FORM smoothed level — S_n = (1−α)^{n−1}·z_0 +
    Σ_{t≥1} α(1−α)^{n−1−t}·z_t — a single weighted sum over the
    day-grain frame, the sql_ewma_by_key power-weight precedent (no
    recursion, so the DuckDB mirror replays identical arithmetic).

    Plan: ONE fact pass to daily counts (the only fact shuffle), then
    day-grain windows for the row index, a 1-row sufficient-statistic
    fold for (a, b, S_n), and a ``horizon``-row broadcast grid join —
    everything past the fact pass is dimension-sized, the conformal/
    Page-Hinkley family contract. Returns (h, trend, ses, forecast)
    for h = 1..horizon, 6dp.

    The day frame is the shared zero-filled calendar spine
    (:func:`~..stats._daily_series`), matching conformal / Page-Hinkley
    / Hurst — observed-days-only indexing silently shifts the trend
    slope and the horizon semantics on series with missing days
    (r13 ADVICE)."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    w = Window.orderBy("d")
    idx = _daily_series(events, ts_col).select(
        F.col("c").cast("double").alias("y"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
    )
    t, y = F.col("t"), F.col("y")
    suff = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(t).alias("st"),
        F.sum(y).alias("sy"),
        F.sum(t * t).alias("stt"),
        F.sum(t * y).alias("sty"),
    )
    nn = F.col("n")
    b = F.try_divide(
        nn * F.col("sty") - F.col("st") * F.col("sy"),
        nn * F.col("stt") - F.col("st") * F.col("st"),
    )
    a = (F.col("sy") - b * F.col("st")) / nn
    params = suff.select(nn.alias("n"), a.alias("a"), b.alias("b"))
    z = 2.0 * y - (F.col("a") + F.col("b") * t)
    wgt = F.when(
        t == 0.0, F.pow(F.lit(1.0 - alpha), F.col("n") - 1)
    ).otherwise(
        F.lit(alpha) * F.pow(F.lit(1.0 - alpha), F.col("n") - 1 - t)
    )
    ses = (
        idx.crossJoin(F.broadcast(params))
        .agg(
            F.sum(z * wgt).alias("ses"),
            F.first("n").alias("n"),
            F.first("a").alias("a"),
            F.first("b").alias("b"),
        )
    )
    spark = events.sparkSession
    grid = spark.range(1, horizon + 1).select(
        F.col("id").cast("int").alias("h")
    )
    trend = F.col("a") + F.col("b") * (F.col("n") - 1 + F.col("h"))
    return (
        grid.crossJoin(F.broadcast(ses))
        .select(
            "h",
            F.round(trend, 6).alias("trend"),
            F.round(F.col("ses"), 6).alias("ses"),
            F.round(0.5 * trend + 0.5 * F.col("ses"), 6).alias("forecast"),
        )
        .orderBy("h")
    )


def sql_theta_forecast_daily(
    table: str = "events",
    ts_col: str = "ts",
    alpha: float = 0.2,
    horizon: int = 7,
) -> str:
    """DuckDB replay of :func:`theta_forecast_daily` — same zero-filled
    calendar spine, same sufficient statistics, same closed-form SES
    weights."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t
        FROM series
    ), suff AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(t) AS st, sum(y) AS sy,
            sum(t * t) AS stt, sum(t * y) AS sty
        FROM idx
    ), params AS (
        SELECT n,
            (sy - (n * sty - st * sy) / nullif(n * stt - st * st, 0.0)
                  * st) / n AS a,
            (n * sty - st * sy) / nullif(n * stt - st * st, 0.0) AS b
        FROM suff
    ), ses AS (
        SELECT sum(
                (2.0 * y - (p.a + p.b * t))
                * CASE WHEN t = 0.0
                       THEN power(1.0 - {alpha!r}, p.n - 1)
                       ELSE {alpha!r} * power(1.0 - {alpha!r},
                                              p.n - 1 - t) END
            ) AS ses,
            first(p.n) AS n, first(p.a) AS a, first(p.b) AS b
        FROM idx CROSS JOIN params p
    )
    SELECT CAST(g.range AS INT) AS h,
        round(s.a + s.b * (s.n - 1 + g.range), 6) AS trend,
        round(s.ses, 6) AS ses,
        round(0.5 * (s.a + s.b * (s.n - 1 + g.range))
              + 0.5 * s.ses, 6) AS forecast
    FROM range(1, {horizon} + 1) g CROSS JOIN ses s
    ORDER BY h
    """


# ---------------------------------------------------------------------------
# r12e: DFT seasonality strength — which period actually drives the series
# ---------------------------------------------------------------------------


def seasonality_strength_daily(
    events: DataFrame,
    ts_col: str = "ts",
    min_period: int = 2,
    max_period: int = 14,
) -> DataFrame:
    """Spectral seasonality scan of the daily count series: for every
    candidate period p, the share of (demeaned) variance explained by
    the single sinusoid at frequency 1/p —

        a_p = Σ ŷ_t·cos(2πt/p),  b_p = Σ ŷ_t·sin(2πt/p)
        r2_p = 2·(a_p² + b_p²) / (n·Σŷ_t²)        (ŷ = y − ȳ)

    the regression R² of fitting cos+sin at that frequency (the
    classical periodogram ordinate, normalized) — the "is it weekly,
    and how strongly" question :func:`seasonal_decompose_daily` ASSUMES
    the answer to (it takes period=7 on faith; this measures it).

    Plan: one fact pass to the calendar-spined daily series, a
    row-index window, then a (periods × days) grid aggregate grouped by
    period — dimension-sized (13·365 rows/yr). Both engines evaluate
    the same cos/sin/π literals; 6dp rounding absorbs libm ulps (the
    exp/ln precedent throughout). Zero-variance series degrade r2 to
    NULL via try_divide. Returns (period, r2), one row per candidate,
    ordered by period."""
    from pyspark.sql import Window

    import math

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    series = _daily_series(events, ts_col)
    w = Window.orderBy("d")
    idx = series.select(
        F.col("c").cast("double").alias("y"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
    )
    base = idx.agg(
        F.avg("y").alias("ybar"), F.count(F.lit(1)).alias("n")
    )
    demeaned = idx.crossJoin(F.broadcast(base)).select(
        (F.col("y") - F.col("ybar")).alias("yd"), "t", "n"
    )
    spark = events.sparkSession
    periods = spark.range(min_period, max_period + 1).select(
        F.col("id").cast("int").alias("period")
    )
    two_pi = F.lit(2.0 * math.pi)
    ang = two_pi * F.col("t") / F.col("period")
    per = (
        demeaned.crossJoin(F.broadcast(periods))
        .groupBy("period")
        .agg(
            F.sum(F.col("yd") * F.cos(ang)).alias("a"),
            F.sum(F.col("yd") * F.sin(ang)).alias("b"),
            F.sum(F.col("yd") * F.col("yd")).alias("ss"),
            F.max("n").alias("n"),
        )
    )
    r2 = F.try_divide(
        2.0 * (F.col("a") * F.col("a") + F.col("b") * F.col("b")),
        F.col("n") * F.col("ss"),
    )
    return per.select(
        "period", F.round(r2, 6).alias("r2")
    ).orderBy("period")


def sql_seasonality_strength_daily(
    table: str = "events",
    ts_col: str = "ts",
    min_period: int = 2,
    max_period: int = 14,
) -> str:
    """DuckDB replay of :func:`seasonality_strength_daily` — same
    spine, demeaning, and periodogram algebra."""
    import math

    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t
        FROM series
    ), base AS (
        SELECT avg(y) AS ybar, count(*) AS n FROM idx
    ), demeaned AS (
        SELECT y - ybar AS yd, t, n FROM idx CROSS JOIN base
    ), per AS (
        SELECT p.period,
            sum(yd * cos({2.0 * math.pi!r} * t / p.period)) AS a,
            sum(yd * sin({2.0 * math.pi!r} * t / p.period)) AS b,
            sum(yd * yd) AS ss, max(n) AS n
        FROM demeaned CROSS JOIN (
            SELECT CAST(range AS INT) AS period
            FROM range({min_period}, {max_period} + 1)
        ) p
        GROUP BY 1
    )
    SELECT period,
        round(2.0 * (a * a + b * b) / nullif(n * ss, 0.0), 6) AS r2
    FROM per ORDER BY period
    """


# ---------------------------------------------------------------------------
# r12f: Chow test — is the trend the SAME trend on both sides of a break
# ---------------------------------------------------------------------------


def chow_test_daily(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Chow structural-break test on the daily count series at the
    midpoint: fit the linear trend on the full series and on each half,
    and test whether one line explains both —

        F = ((SSE_pooled − SSE₁ − SSE₂) / p) / ((SSE₁ + SSE₂) / (n − 2p))

    with p = 2 (intercept, slope) — the CONFIRMATORY companion to
    :func:`changepoint_daily` (which SEARCHES for the best split, this
    tests a GIVEN one; search-then-test on the same data inflates F —
    use a held-out split or a known intervention date for inference).

    Every SSE comes from the closed form SSE = Syy − a·Sy − b·Sxy over
    each segment's sufficient statistics: one day-grain conditional
    aggregate computes all three segments' sums (the segment flag is
    row_number ≤ n/2), so both engines replay identical algebra; a
    degenerate half (constant x) degrades to NULL via try_divide.

    Plan: one fact pass to the spined daily series, a row-index window,
    ONE 3-segment conditional sum aggregate, one-row arithmetic.
    Returns one row (n_days, break_idx, sse_pooled, sse_split, f_stat,
    df1, df2), 6dp — compare f_stat to F(df1, df2) upper quantiles
    (3.0–3.1 at the 5% level for a year of days)."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    series = _daily_series(events, ts_col)
    w = Window.orderBy("d")
    idx = series.select(
        F.col("c").cast("double").alias("y"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("_n"),
    )
    half = F.floor(F.col("_n") / 2).cast("double")
    seg = (F.col("t") < half).cast("int")  # 1 = first half

    def seg_sums(cond, tag):
        return [
            F.sum(F.when(cond, F.lit(1.0)).otherwise(0.0)).alias(f"n{tag}"),
            F.sum(F.when(cond, F.col("t")).otherwise(0.0)).alias(f"sx{tag}"),
            F.sum(F.when(cond, F.col("y")).otherwise(0.0)).alias(f"sy{tag}"),
            F.sum(
                F.when(cond, F.col("t") * F.col("t")).otherwise(0.0)
            ).alias(f"sxx{tag}"),
            F.sum(
                F.when(cond, F.col("t") * F.col("y")).otherwise(0.0)
            ).alias(f"sxy{tag}"),
            F.sum(
                F.when(cond, F.col("y") * F.col("y")).otherwise(0.0)
            ).alias(f"syy{tag}"),
        ]

    agg = idx.agg(
        *seg_sums(F.lit(True), "p"),
        *seg_sums(seg == 1, "1"),
        *seg_sums(seg == 0, "2"),
        F.max(half).alias("break_idx"),
    )

    def sse(tag):
        n = F.col(f"n{tag}")
        sx, sy = F.col(f"sx{tag}"), F.col(f"sy{tag}")
        sxx, sxy = F.col(f"sxx{tag}"), F.col(f"sxy{tag}")
        syy = F.col(f"syy{tag}")
        b = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
        a = (sy - b * sx) / n
        return syy - a * sy - b * sxy

    sse_p, sse_1, sse_2 = sse("p"), sse("1"), sse("2")
    n = F.col("np")
    f_stat = F.try_divide(
        (sse_p - sse_1 - sse_2) / F.lit(2.0),
        F.try_divide(sse_1 + sse_2, n - 4.0),
    )
    return agg.select(
        n.cast("long").alias("n_days"),
        F.col("break_idx").cast("long").alias("break_idx"),
        F.round(sse_p, 6).alias("sse_pooled"),
        F.round(sse_1 + sse_2, 6).alias("sse_split"),
        F.round(f_stat, 6).alias("f_stat"),
        F.lit(2).alias("df1"),
        (n - 4.0).cast("long").alias("df2"),
    )


def sql_chow_test_daily(
    table: str = "events",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of :func:`chow_test_daily` — same spine, segment
    flag, sufficient statistics, and SSE identity."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    def seg_sums(cond, tag):
        return f"""
            sum(CASE WHEN {cond} THEN 1.0 ELSE 0.0 END) AS n{tag},
            sum(CASE WHEN {cond} THEN t ELSE 0.0 END) AS sx{tag},
            sum(CASE WHEN {cond} THEN y ELSE 0.0 END) AS sy{tag},
            sum(CASE WHEN {cond} THEN t * t ELSE 0.0 END) AS sxx{tag},
            sum(CASE WHEN {cond} THEN t * y ELSE 0.0 END) AS sxy{tag},
            sum(CASE WHEN {cond} THEN y * y ELSE 0.0 END) AS syy{tag}"""

    def sse(tag):
        b = (f"(n{tag} * sxy{tag} - sx{tag} * sy{tag})"
             f" / nullif(n{tag} * sxx{tag} - sx{tag} * sx{tag}, 0.0)")
        a = f"(sy{tag} - {b} * sx{tag}) / n{tag}"
        return f"(syy{tag} - {a} * sy{tag} - {b} * sxy{tag})"

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t,
            count(*) OVER () AS _n
        FROM series
    ), agg AS (
        SELECT
            {seg_sums('1=1', 'p')},
            {seg_sums('t < floor(_n / 2.0)', '1')},
            {seg_sums('t >= floor(_n / 2.0)', '2')},
            max(floor(_n / 2.0)) AS break_idx
        FROM idx
    )
    SELECT CAST(np AS BIGINT) AS n_days,
        CAST(break_idx AS BIGINT) AS break_idx,
        round({sse('p')}, 6) AS sse_pooled,
        round({sse('1')} + {sse('2')}, 6) AS sse_split,
        round((({sse('p')} - {sse('1')} - {sse('2')}) / 2.0)
              / nullif(({sse('1')} + {sse('2')}) / nullif(np - 4.0, 0.0),
                       0.0), 6) AS f_stat,
        2 AS df1, CAST(np - 4.0 AS BIGINT) AS df2
    FROM agg
    """


# ---------------------------------------------------------------------------
# r12g: Hurst exponent via rescaled range — long-memory diagnostic
# ---------------------------------------------------------------------------


def hurst_rs_daily(
    events: DataFrame,
    ts_col: str = "ts",
    block_sizes: tuple = (5, 10, 15),
) -> DataFrame:
    """Hurst exponent of the daily count series by classical
    rescaled-range (R/S) analysis: for each block size m, split the
    series into ⌊n/m⌋ complete blocks, compute each block's range of
    cumulative mean-deviations over its own standard deviation,

        (R/S)_m = mean over blocks of (max Z − min Z) / S_block,
        Z_t = Σ_{{u≤t}} (y_u − ȳ_block)

    then H = the OLS slope of ln(R/S) on ln(m) — H ≈ 0.5 for a random
    walk's increments, > 0.5 for trending/long-memory series, < 0.5
    for mean-reverting ones; the persistence diagnostic next to
    :func:`seasonality_strength_daily`'s periodicity scan.

    Constant blocks (S = 0) contribute NULL via try_divide and drop
    out of the block mean identically on both engines (avg ignores
    NULL). Plan: one fact pass to the spined series, a (sizes × days)
    grid, block-grain moment aggregates joined back for ONE
    partitioned cumsum window (key (size, block) — never global), a
    3-row per-size fold, and a 1-row log-log OLS broadcast back onto
    the per-size detail. Returns one row per block size
    (block_size, n_blocks, rs_mean, hurst — the shared slope), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    series = pooled_persist(_daily_series(events, ts_col))
    w = Window.orderBy("d")
    idx = series.select(
        F.col("c").cast("double").alias("y"),
        (F.row_number().over(w) - 1).alias("t"),
    )
    spark = events.sparkSession
    sizes = spark.createDataFrame(
        [(int(m),) for m in block_sizes], "m int"
    )
    gridded = pooled_persist(
        idx.crossJoin(F.broadcast(sizes)).select(
            "m", F.floor(F.col("t") / F.col("m")).alias("blk"), "t", "y"
        )
    )
    stats = gridded.groupBy("m", "blk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.avg("y").alias("mu"),
        # clamp: the moment difference can cancel a few ulps negative on
        # a near-constant block (daily counts are integers today, but any
        # real-valued reuse would hit DuckDB sqrt-raises vs Spark NaN —
        # r12 ADVICE; same convention as neyman_allocation / KW)
        F.sqrt(
            F.greatest(
                F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y"),
                F.lit(0.0),
            )
        ).alias("s"),
    )
    w_cum = (
        Window.partitionBy("m", "blk")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    z = (
        gridded.join(stats, ["m", "blk"])
        .filter(F.col("cnt") == F.col("m"))  # complete blocks only
        .withColumn("z", F.sum(F.col("y") - F.col("mu")).over(w_cum))
    )
    per_block = z.groupBy("m", "blk").agg(
        F.try_divide(
            F.max("z") - F.min("z"), F.first("s")
        ).alias("rs")
    )
    per_size = per_block.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.round(F.avg("rs"), 6).alias("rs_mean"),
    )
    lx = F.log(F.col("m").cast("double"))
    ly = F.log(F.col("rs_mean"))
    fit = per_size.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    ).select(
        F.round(
            F.try_divide(
                F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"),
                F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"),
            ),
            6,
        ).alias("hurst")
    )
    return (
        per_size.crossJoin(F.broadcast(fit))
        .select(
            F.col("m").alias("block_size"), "n_blocks", "rs_mean", "hurst"
        )
        .orderBy("block_size")
    )


def sql_hurst_rs_daily(
    table: str = "events",
    ts_col: str = "ts",
    block_sizes: tuple = (5, 10, 15),
) -> str:
    """DuckDB replay of :func:`hurst_rs_daily` — same grid, block
    moments, cumulative deviations, and log-log fit."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    vals = ", ".join(f"({int(m)})" for m in block_sizes)
    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            row_number() OVER (ORDER BY d) - 1 AS t
        FROM series
    ), gridded AS (
        SELECT s.m, CAST(floor(t / CAST(s.m AS DOUBLE)) AS BIGINT)
                   AS blk, t, y
        FROM idx CROSS JOIN (VALUES {vals}) s(m)
    ), stats AS (
        SELECT m, blk, count(*) AS cnt, avg(y) AS mu,
            sqrt(greatest(avg(y * y) - avg(y) * avg(y), 0.0)) AS s
        FROM gridded GROUP BY 1, 2
    ), z AS (
        SELECT g.m, g.blk, stats.s,
            sum(g.y - stats.mu) OVER (PARTITION BY g.m, g.blk
                ORDER BY g.t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
        FROM gridded g JOIN stats ON g.m = stats.m AND g.blk = stats.blk
        WHERE stats.cnt = g.m
    ), per_block AS (
        SELECT m, blk,
            (max(z) - min(z)) / nullif(first(s), 0.0) AS rs
        FROM z GROUP BY 1, 2
    ), per_size AS (
        SELECT m, count(*) AS n_blocks, round(avg(rs), 6) AS rs_mean
        FROM per_block GROUP BY 1
    ), fit AS (
        SELECT round(
            (k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0.0), 6)
            AS hurst
        FROM (
            SELECT CAST(count(*) AS DOUBLE) AS k,
                sum(ln(CAST(m AS DOUBLE))) AS sx,
                sum(ln(rs_mean)) AS sy,
                sum(ln(CAST(m AS DOUBLE)) * ln(CAST(m AS DOUBLE))) AS sxx,
                sum(ln(CAST(m AS DOUBLE)) * ln(rs_mean)) AS sxy
            FROM per_size
        )
    )
    SELECT m AS block_size, n_blocks, rs_mean, fit.hurst
    FROM per_size CROSS JOIN fit
    ORDER BY block_size
    """


# ---------------------------------------------------------------------------
# r13d: daily-series diagnostics — changepoint, randomness, trend tests
# ---------------------------------------------------------------------------


def pettitt_changepoint_daily(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Pettitt rank-based changepoint test on the daily count series:
    the non-parametric sibling of the CUSUM/Chow operators — no
    normality or known-variance assumption, robust to the heavy-tailed
    counts real traffic has.

        U_t = 2·Σ_{i<=t} r_i − t·(n+1)       (r = midranks)
        K   = max_t |U_t|,   p ≈ 2·exp(−6K² / (n³ + n²))

    Plan: the shared zero-filled calendar spine, one rank window
    (day-grain — the spine is span-bounded, so the global window is
    the documented dimension-grain exception), one cumulative window,
    one argmax fold.  Returns one row (n, change_day, k_stat,
    p_value), 6dp; the reported day is the FIRST argmax (deterministic
    tie rule on both engines)."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import (
        _daily_series,
        avg_rank,
    )

    series = _daily_series(events, ts_col).select(
        "d", F.col("c").cast("double").alias("y")
    )
    ranked = series.select(
        "d", "y", avg_rank("y").alias("_r")
    )
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_idx = Window.orderBy("d")
    u = ranked.select(
        "d",
        (
            2.0 * F.sum("_r").over(w_cum)
            - F.row_number().over(w_idx).cast("double")
            * (F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ) + 1.0)
        ).alias("_u"),
    )
    folded = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("_u"))).alias("k_stat"),
        F.min_by("d", F.struct((-F.abs(F.col("_u"))).alias("a"), F.col("d").alias("b"))).alias(
            "change_day"
        ),
    )
    n = F.col("n").cast("double")
    p = 2.0 * F.exp(
        F.try_divide(
            -6.0 * F.col("k_stat") * F.col("k_stat"),
            n * n * n + n * n,
        )
    )
    return folded.select(
        "n",
        F.date_format("change_day", "yyyy-MM-dd").alias("change_day"),
        F.round("k_stat", 6).alias("k_stat"),
        F.round(F.least(p, F.lit(1.0)), 6).alias("p_value"),
    )


def sql_pettitt_changepoint_daily(
    table: str = "events", ts_col: str = "ts"
) -> str:
    """DuckDB replay of :func:`pettitt_changepoint_daily` — same spine,
    midranks, first-argmax tie rule and tail approximation."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
        sql_avg_rank,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, ranked AS (
        SELECT d, CAST(c AS DOUBLE) AS y,
            {sql_avg_rank('CAST(c AS DOUBLE)')} AS r
        FROM series
    ), u AS (
        SELECT d,
            2.0 * sum(r) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)
            - row_number() OVER (ORDER BY d)
              * (count(*) OVER () + 1.0) AS uu
        FROM ranked
    ), folded AS (
        SELECT CAST(count(*) AS BIGINT) AS n, max(abs(uu)) AS k_stat
        FROM u
    ), pick AS (
        -- first argmax: smallest day whose |U| attains the max (the
        -- U values are exact halves-arithmetic doubles, so equality
        -- against the max is safe)
        SELECT min(d) AS change_day
        FROM u CROSS JOIN folded WHERE abs(uu) = folded.k_stat
    ), folded2 AS (
        SELECT folded.n, folded.k_stat, pick.change_day
        FROM folded CROSS JOIN pick
    )
    SELECT n, strftime(change_day, '%Y-%m-%d') AS change_day,
        round(k_stat, 6) AS k_stat,
        round(least(2.0 * exp(-6.0 * k_stat * k_stat
            / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)),
            1.0), 6) AS p_value
    FROM folded2
    """


def buishand_range_daily(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Buishand range homogeneity test on the daily count series:
    partial sums of deviations from the mean, their range rescaled by
    the standard deviation —

        S_t = Σ_{i<=t} (y_i − ȳ),  R = (max S − min S) / s,
        r   = R / sqrt(n)

    r has tabulated critical values (~1.5 at alpha .05 for n >= 50);
    the CUSUM family's 'did the level drift anywhere' complement to
    Pettitt's 'where'.  One spine pass, one cumulative window, one-row
    fold.  Returns (n, range_stat, r_scaled), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    series = _daily_series(events, ts_col).select(
        "d", F.col("c").cast("double").alias("y")
    )
    stats_row = series.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("mu"),
        F.stddev_samp("y").alias("s"),
    )
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = series.crossJoin(F.broadcast(stats_row)).select(
        "n",
        "s",
        F.sum(F.col("y") - F.col("mu")).over(w_cum).alias("_S"),
    )
    folded = cum.agg(
        F.first("n").alias("n"),
        F.try_divide(F.max("_S") - F.min("_S"), F.first("s")).alias(
            "_R"
        ),
    )
    return folded.select(
        "n",
        F.round("_R", 6).alias("range_stat"),
        F.round(
            F.col("_R") / F.sqrt(F.col("n").cast("double")), 6
        ).alias("r_scaled"),
    )


def sql_buishand_range_daily(
    table: str = "events", ts_col: str = "ts"
) -> str:
    """DuckDB replay of :func:`buishand_range_daily`."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, st AS (
        SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(c AS DOUBLE)) AS mu,
            stddev_samp(CAST(c AS DOUBLE)) AS s
        FROM series
    ), cum AS (
        SELECT st.n, st.s,
            sum(CAST(c AS DOUBLE) - st.mu) OVER (ORDER BY d ROWS
                BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
        FROM series CROSS JOIN st
    ), folded AS (
        SELECT first(n) AS n,
            (max(ps) - min(ps)) / nullif(first(s), 0.0) AS r
        FROM cum
    )
    SELECT n, round(r, 6) AS range_stat,
        round(r / sqrt(CAST(n AS DOUBLE)), 6) AS r_scaled
    FROM folded
    """


def von_neumann_ratio_daily(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Von Neumann ratio (mean-square successive difference / variance)
    on the daily series — the classic serial-independence check:

        VN = Σ (y_{t+1} − y_t)² / Σ (y_t − ȳ)²

    E[VN] = 2 under independence; VN < 2 flags positive
    autocorrelation (trending), VN > 2 alternation.  The normal
    approximation z = (VN − 2)·sqrt((n² − 1)/(4·(n − 2))) gives the
    two-sided p via the shared A&S tail.  One spine pass + a lag
    window + a one-row fold.  Returns (n, vn_ratio, z, p_value),
    6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.experiment import (
        _phi_upper_sql,
    )
    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    series = _daily_series(events, ts_col).select(
        "d", F.col("c").cast("double").alias("y")
    )
    w_lag = Window.orderBy("d")
    lagged = series.select(
        "y", F.lag("y", 1).over(w_lag).alias("_py")
    )
    folded = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("y") - F.col("_py")) * (F.col("y") - F.col("_py"))
        ).alias("_num"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
    )
    n = F.col("n").cast("double")
    ss = F.greatest(
        F.col("_syy") - F.col("_sy") * F.col("_sy") / n, F.lit(0.0)
    )
    vn = F.try_divide(F.col("_num"), ss)
    z = (vn - 2.0) * F.sqrt(
        F.try_divide(n * n - 1.0, 4.0 * (n - 2.0))
    )
    out = folded.withColumn("_az", F.abs(z))
    return out.select(
        "n",
        F.round(vn, 6).alias("vn_ratio"),
        F.round(z, 6).alias("z"),
        F.round(
            F.expr("2.0 * " + _phi_upper_sql("_az")), 6
        ).alias("p_value"),
    )


def sql_von_neumann_ratio_daily(
    table: str = "events", ts_col: str = "ts"
) -> str:
    """DuckDB replay of :func:`von_neumann_ratio_daily`."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        _phi_upper_sql,
    )
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, lagged AS (
        SELECT CAST(c AS DOUBLE) AS y,
            lag(CAST(c AS DOUBLE), 1) OVER (ORDER BY d) AS py
        FROM series
    ), folded AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
            sum((y - py) * (y - py)) AS num,
            sum(y) AS sy, sum(y * y) AS syy
        FROM lagged
    ), stat AS (
        SELECT n,
            num / nullif(greatest(syy - sy * sy / CAST(n AS DOUBLE),
                                  0.0), 0.0) AS vn,
            (num / nullif(greatest(syy - sy * sy / CAST(n AS DOUBLE),
                                   0.0), 0.0) - 2.0)
            * sqrt((CAST(n AS DOUBLE) * n - 1.0)
                   / nullif(4.0 * (n - 2.0), 0.0)) AS z
        FROM folded
    )
    SELECT n, round(vn, 6) AS vn_ratio, round(z, 6) AS z,
        round(2.0 * {_phi_upper_sql('abs(z)')}, 6) AS p_value
    FROM stat
    """


def cox_stuart_trend_daily(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Cox-Stuart sign test for monotone trend on the daily series:
    pair day t with day t + ceil(n/2) (the middle day drops when n is
    odd), count strictly-increasing pairs among the non-tied ones, and
    test S+ ~ Binomial(n', 1/2) with the continuity-corrected normal:

        z = (|S+ − n'/2| − 0.5) / sqrt(n'/4)

    The rank-free cousin of Mann-Kendall — O(n) pairs instead of
    O(n²), the version you run when the spine is long.  One spine
    pass + a lead window + a one-row fold.  Returns
    (n_pairs, n_untied, s_plus, z, p_value), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.experiment import (
        _phi_upper_sql,
    )
    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    series = _daily_series(events, ts_col).select(
        "d", F.col("c").cast("double").alias("y")
    )
    w_idx = Window.orderBy("d")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    idx = series.select(
        "y",
        (F.row_number().over(w_idx) - 1).alias("_t"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    half = F.ceil(F.col("_n") / F.lit(2)).cast("int")
    # lead with a dynamic offset is not expressible; self-join the
    # span-bounded spine on the index instead (dimension-grain join)
    a = idx.select(
        F.col("_t").alias("_ta"), F.col("y").alias("_ya"), "_n"
    )
    b = idx.select(
        F.col("_t").alias("_tb"), F.col("y").alias("_yb")
    )
    paired = a.join(
        b, a["_ta"] + half == b["_tb"], "inner"
    )
    folded = paired.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("_yb") != F.col("_ya"), 1).otherwise(0)
        ).alias("n_untied"),
        F.sum(
            F.when(F.col("_yb") > F.col("_ya"), 1).otherwise(0)
        ).alias("s_plus"),
    )
    np_ = F.col("n_untied").cast("double")
    num = F.abs(F.col("s_plus") - np_ / 2.0) - 0.5
    z = F.try_divide(
        F.greatest(num, F.lit(0.0)), F.sqrt(np_ / 4.0)
    )
    out = folded.withColumn("_az", z)
    return out.select(
        "n_pairs",
        "n_untied",
        "s_plus",
        F.round(z, 6).alias("z"),
        F.round(
            F.expr("2.0 * " + _phi_upper_sql("_az")), 6
        ).alias("p_value"),
    )


def sql_cox_stuart_trend_daily(
    table: str = "events", ts_col: str = "ts"
) -> str:
    """DuckDB replay of :func:`cox_stuart_trend_daily` — same index
    pairing, tie exclusion and continuity correction."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        _phi_upper_sql,
    )
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            row_number() OVER (ORDER BY d) - 1 AS t,
            count(*) OVER () AS n
        FROM series
    ), paired AS (
        SELECT a.y AS ya, b.y AS yb
        FROM idx a JOIN idx b
          ON a.t + CAST(ceil(a.n / 2.0) AS BIGINT) = b.t
    ), folded AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(CASE WHEN yb != ya THEN 1 ELSE 0 END) AS BIGINT)
                AS n_untied,
            CAST(sum(CASE WHEN yb > ya THEN 1 ELSE 0 END) AS BIGINT)
                AS s_plus
        FROM paired
    ), stat AS (
        SELECT *,
            greatest(abs(s_plus - n_untied / 2.0) - 0.5, 0.0)
            / nullif(sqrt(n_untied / 4.0), 0.0) AS z
        FROM folded
    )
    SELECT n_pairs, n_untied, s_plus, round(z, 6) AS z,
        round(2.0 * {_phi_upper_sql('z')}, 6) AS p_value
    FROM stat
    """


def variance_ratio_daily(
    events: DataFrame, ts_col: str = "ts", q: int = 5
) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on the daily-count INCREMENTS
    (first differences of the spine): under a random walk the variance
    of a q-day sum is q times the 1-day variance, so

        VR(q) = Var(Σ_{q consecutive} d) / (q · Var(d))
        z     = (VR − 1) / sqrt(2(2q−1)(q−1) / (3q·n))

    (overlapping q-sums, homoskedastic asymptotics).  VR < 1 flags
    mean reversion, VR > 1 momentum — the 'is traffic a random walk or
    does it trend' diagnostic behind every naive-forecast baseline.
    One spine pass + two windows (lag + rolling q-sum) + a one-row
    fold.  Returns (n, q, vr, z, p_value), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.experiment import (
        _phi_upper_sql,
    )
    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    series = _daily_series(events, ts_col).select(
        "d", F.col("c").cast("double").alias("y")
    )
    w_lag = Window.orderBy("d")
    diffs = series.select(
        "d", (F.col("y") - F.lag("y", 1).over(w_lag)).alias("_dd")
    ).filter(F.col("_dd").isNotNull())
    w_q = Window.orderBy("d").rowsBetween(-(q - 1), 0)
    w_cnt = Window.orderBy("d").rowsBetween(-(q - 1), 0)
    sums = diffs.select(
        "_dd",
        F.sum("_dd").over(w_q).alias("_sq"),
        F.count(F.lit(1)).over(w_cnt).alias("_k"),
    )
    folded = sums.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_dd") * F.col("_dd")).alias("_s2"),
        F.sum("_dd").alias("_s1"),
        F.sum(
            F.when(F.col("_k") == q, F.col("_sq") * F.col("_sq"))
        ).alias("_sq2"),
        F.sum(F.when(F.col("_k") == q, F.col("_sq"))).alias("_sq1"),
        F.sum(F.when(F.col("_k") == q, 1).otherwise(0)).alias("_nq"),
    )
    n = F.col("n").cast("double")
    nq = F.col("_nq").cast("double")
    var1 = F.greatest(
        F.col("_s2") / n - (F.col("_s1") / n) * (F.col("_s1") / n),
        F.lit(0.0),
    )
    varq = F.greatest(
        F.col("_sq2") / nq
        - (F.col("_sq1") / nq) * (F.col("_sq1") / nq),
        F.lit(0.0),
    )
    vr = F.try_divide(varq, F.lit(float(q)) * var1)
    z = F.try_divide(
        vr - 1.0,
        F.sqrt(
            F.lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)) / n
        ),
    )
    out = folded.withColumn("_az", F.abs(z))
    return out.select(
        "n",
        F.lit(q).cast("long").alias("q"),
        F.round(vr, 6).alias("vr"),
        F.round(z, 6).alias("z"),
        F.round(
            F.expr("2.0 * " + _phi_upper_sql("_az")), 6
        ).alias("p_value"),
    )


def sql_variance_ratio_daily(
    table: str = "events", ts_col: str = "ts", q: int = 5
) -> str:
    """DuckDB replay of :func:`variance_ratio_daily` — same overlapping
    q-sums and homoskedastic z."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        _phi_upper_sql,
    )
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, diffs AS (
        SELECT d, CAST(c AS DOUBLE)
            - lag(CAST(c AS DOUBLE), 1) OVER (ORDER BY d) AS dd
        FROM series QUALIFY dd IS NOT NULL
    ), sums AS (
        SELECT dd,
            sum(dd) OVER (ORDER BY d ROWS BETWEEN {q - 1} PRECEDING
                AND CURRENT ROW) AS sq,
            count(*) OVER (ORDER BY d ROWS BETWEEN {q - 1} PRECEDING
                AND CURRENT ROW) AS k
        FROM diffs
    ), folded AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
            sum(dd * dd) AS s2, sum(dd) AS s1,
            sum(CASE WHEN k = {q} THEN sq * sq END) AS sq2,
            sum(CASE WHEN k = {q} THEN sq END) AS sq1,
            sum(CASE WHEN k = {q} THEN 1 ELSE 0 END) AS nq
        FROM sums
    ), stat AS (
        SELECT n,
            greatest(sq2 / nq - (sq1 / nq) * (sq1 / nq), 0.0)
            / nullif({q} * greatest(s2 / CAST(n AS DOUBLE)
                - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
                0.0), 0.0) AS vr
        FROM folded
    ), zed AS (
        SELECT n, vr,
            (vr - 1.0) / nullif(sqrt(
                {2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)!r}
                / CAST(n AS DOUBLE)), 0.0) AS z
        FROM stat
    )
    SELECT n, CAST({q} AS BIGINT) AS q, round(vr, 6) AS vr,
        round(z, 6) AS z,
        round(2.0 * {_phi_upper_sql('abs(z)')}, 6) AS p_value
    FROM zed
    """


def durbin_watson_daily(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the daily-count OLS
    trend: DW = Σ(e_t − e_{t−1})² / Σe_t² ∈ [0, 4], ~2 under
    independence — the standard 'did detrending leave autocorrelation
    behind' readout that decides whether the OLS trend's standard
    errors can be believed at all.

    Plan: one spine pass folds the OLS sufficient statistics
    (the 2-feature closed form), a 1-row broadcast rejoins (a, b) to
    the spine for residuals, one lag window, one fold.  Returns
    (n, slope, dw), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    series = pooled_persist(
        _daily_series(events, ts_col).select(
            "d", F.col("c").cast("double").alias("y")
        )
    )
    w_idx = Window.orderBy("d")
    idx = series.select(
        "d", "y", (F.row_number().over(w_idx) - 1).cast("double").alias("t")
    )
    suff = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    b = F.try_divide(
        F.col("n") * F.col("sty") - F.col("st") * F.col("sy"),
        F.col("n") * F.col("stt") - F.col("st") * F.col("st"),
    )
    a = (F.col("sy") - b * F.col("st")) / F.col("n")
    params = suff.select(
        F.col("n").alias("_n"), a.alias("_a"), b.alias("_b")
    )
    resid = idx.crossJoin(F.broadcast(params)).select(
        "d",
        (F.col("y") - (F.col("_a") + F.col("_b") * F.col("t"))).alias(
            "_e"
        ),
        "_b",
    )
    lagged = resid.select(
        "_e", "_b", F.lag("_e", 1).over(Window.orderBy("d")).alias("_pe")
    )
    folded = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.first("_b").alias("_slope"),
        F.sum(
            (F.col("_e") - F.col("_pe")) * (F.col("_e") - F.col("_pe"))
        ).alias("_num"),
        F.sum(F.col("_e") * F.col("_e")).alias("_den"),
    )
    return folded.select(
        "n",
        F.round("_slope", 6).alias("slope"),
        F.round(
            F.try_divide(F.col("_num"), F.col("_den")), 6
        ).alias("dw"),
    )


def sql_durbin_watson_daily(
    table: str = "events", ts_col: str = "ts"
) -> str:
    """DuckDB replay of :func:`durbin_watson_daily` — same OLS closed
    form and lagged residual fold."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT d, CAST(c AS DOUBLE) AS y,
            CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t
        FROM series
    ), suff AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(t) AS st, sum(y) AS sy,
            sum(t * t) AS stt, sum(t * y) AS sty
        FROM idx
    ), params AS (
        SELECT n,
            (sy - (n * sty - st * sy) / nullif(n * stt - st * st, 0.0)
                  * st) / n AS a,
            (n * sty - st * sy) / nullif(n * stt - st * st, 0.0) AS b
        FROM suff
    ), resid AS (
        SELECT d, y - (p.a + p.b * t) AS e, p.b AS slope
        FROM idx CROSS JOIN params p
    ), lagged AS (
        SELECT e, slope, lag(e, 1) OVER (ORDER BY d) AS pe
        FROM resid
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
        round(first(slope), 6) AS slope,
        round(sum((e - pe) * (e - pe)) / nullif(sum(e * e), 0.0), 6)
            AS dw
    FROM lagged
    """


# ---------------------------------------------------------------------------
# r13e: Croston's method — intermittent-demand forecasting
# ---------------------------------------------------------------------------


def croston_intermittent_daily(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    metric_type: str = "error",
    alpha: float = 0.1,
) -> DataFrame:
    """Croston's method on an INTERMITTENT daily series (many zero
    days — error spikes, rare SKU demand): plain SES tracks the zeros
    and under-forecasts right after every spike, so Croston smooths
    two series instead — the nonzero demand SIZES z_k and the
    INTER-DEMAND intervals p_k (in days) — and forecasts their ratio:

        ẑ = SES_α(z_1..z_K),  p̂ = SES_α(p_1..p_K),  ŷ = ẑ / p̂

    Both SES levels use the CLOSED-FORM power-weight sum over the
    occurrence index k (the Theta/sql_ewma precedent — no recursion,
    exact replay on both engines).  Plan: one fact pass to the daily
    spine, a filter to nonzero days + one lag for intervals, a
    K-row weighted fold.  Returns one row (n_days, n_nonzero, z_hat,
    p_hat, forecast_per_day), 6dp; an all-zero series degrades to
    NULLs via try_divide."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series

    daily = _daily_series(
        events.filter(F.col(type_col) == metric_type), ts_col
    )
    w_idx = Window.orderBy("d")
    nz = (
        daily.filter(F.col("c") > 0)
        .select(
            "d",
            F.col("c").cast("double").alias("z"),
            F.row_number().over(w_idx).alias("k"),
            F.datediff(
                "d", F.lag("d", 1).over(w_idx)
            ).cast("double").alias("p"),
        )
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n_days"))
    counts = nz.agg(F.count(F.lit(1)).alias("kk"))
    # SES closed form: S_K = (1-a)^(K-1) x_1 + sum_{k>=2} a(1-a)^(K-k) x_k
    joined = nz.crossJoin(F.broadcast(counts))
    wz = F.when(
        F.col("k") == 1,
        F.pow(F.lit(1.0 - alpha), F.col("kk") - 1),
    ).otherwise(
        F.lit(alpha) * F.pow(F.lit(1.0 - alpha), F.col("kk") - F.col("k"))
    )
    # intervals start at k=2 (K-1 observations): index j = k-1
    wp = F.when(
        F.col("k") == 2,
        F.pow(F.lit(1.0 - alpha), F.col("kk") - 2),
    ).otherwise(
        F.lit(alpha) * F.pow(F.lit(1.0 - alpha), F.col("kk") - F.col("k"))
    )
    folded = joined.agg(
        F.first("kk").alias("n_nonzero"),
        F.sum(F.col("z") * wz).alias("_zh"),
        F.sum(
            F.when(F.col("k") >= 2, F.col("p") * wp)
        ).alias("_ph"),
    )
    return folded.crossJoin(F.broadcast(tot)).select(
        "n_days",
        "n_nonzero",
        F.round("_zh", 6).alias("z_hat"),
        F.round("_ph", 6).alias("p_hat"),
        F.round(F.try_divide(F.col("_zh"), F.col("_ph")), 6).alias(
            "forecast_per_day"
        ),
    )


def sql_croston_intermittent_daily(
    table: str = "events",
    ts_col: str = "ts",
    type_col: str = "event_type",
    metric_type: str = "error",
    alpha: float = 0.1,
) -> str:
    """DuckDB replay of :func:`croston_intermittent_daily` — same
    spine, occurrence indexing and closed-form SES weights."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    a = repr(alpha)
    return f"""
    WITH {_sql_daily_series(table, ts_col,
                            f"{type_col} = '{metric_type}'")}, nz AS (
        SELECT d, CAST(c AS DOUBLE) AS z,
            row_number() OVER (ORDER BY d) AS k,
            CAST(datediff('day', lag(d, 1) OVER (ORDER BY d), d)
                 AS DOUBLE) AS p
        FROM series WHERE c > 0
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days FROM series
    ), kc AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM nz),
    folded AS (
        SELECT first(kc.kk) AS n_nonzero,
            sum(z * CASE WHEN k = 1
                         THEN power(1.0 - {a}, kc.kk - 1)
                         ELSE {a} * power(1.0 - {a}, kc.kk - k) END)
                AS zh,
            sum(CASE WHEN k >= 2 THEN p *
                CASE WHEN k = 2 THEN power(1.0 - {a}, kc.kk - 2)
                     ELSE {a} * power(1.0 - {a}, kc.kk - k) END END)
                AS ph
        FROM nz CROSS JOIN kc
    )
    SELECT tot.n_days, n_nonzero, round(zh, 6) AS z_hat,
        round(ph, 6) AS p_hat,
        round(zh / nullif(ph, 0.0), 6) AS forecast_per_day
    FROM folded CROSS JOIN tot
    """


# ---------------------------------------------------------------------------
# r13g: subsequence analytics — matrix-profile discords, entropies
# ---------------------------------------------------------------------------


def matrix_profile_discords(
    events: DataFrame,
    ts_col: str = "ts",
    w: int = 7,
    top: int = 3,
) -> DataFrame:
    """Matrix-profile DISCORDS of the daily count series: for every
    w-day window, the z-normalized Euclidean distance to its nearest
    non-overlapping neighbor; the windows whose nearest neighbor is
    FARTHEST are the series' most anomalous weeks — the
    shape-anomaly detector (an MAD/ESD spike test sees single days;
    a discord sees 'this week's PATTERN happened nowhere else').

        dist²(i,j) = 2w·(1 − (QT_ij − w·μ_i·μ_j)/(w·σ_i·σ_j))
        MP[i] = min_{|i−j| >= w} dist(i,j)

    Plan: the spine is span-bounded, so all-pairs is DIMENSION-grain
    compute: an exploded (window, offset, value) frame self-joins on
    the offset (n·w rows a side, n²·w join rows — ~1M at a year of
    days), one (i, j) aggregate for the dot products, rolling windows
    for μ/σ, an exclusion-zone filter, a min fold per i.  Constant
    windows (σ=0) are excluded on both engines (z-normalization is
    undefined there).  Returns the ``top`` discords
    (start_day, nn_day, mp_dist), 6dp, ordered dist DESC, day ASC."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    series = _daily_series(events, ts_col).select(
        "d", F.col("c").cast("double").alias("y")
    )
    w_idx = Window.orderBy("d")
    idx = series.select(
        "d", "y", (F.row_number().over(w_idx) - 1).alias("t")
    )
    w_roll = Window.orderBy("t").rowsBetween(0, w - 1)
    stats_f = idx.select(
        "t",
        "d",
        F.count(F.lit(1)).over(w_roll).alias("_k"),
        F.avg("y").over(w_roll).alias("_mu"),
        F.sqrt(
            F.greatest(
                F.avg(F.col("y") * F.col("y")).over(w_roll)
                - F.avg("y").over(w_roll) * F.avg("y").over(w_roll),
                F.lit(0.0),
            )
        ).alias("_sig"),
    ).filter((F.col("_k") == w) & (F.col("_sig") > 0))
    stats_f = pooled_persist(stats_f)
    expl = pooled_persist(
        idx.crossJoin(
            F.broadcast(
                idx.sparkSession.range(w).select(
                    F.col("id").cast("int").alias("_o")
                )
            )
        )
        .select((F.col("t") - F.col("_o")).alias("i"), "_o", "y")
        .filter(F.col("i") >= 0)
    )
    b = expl.select(
        F.col("i").alias("j"), F.col("_o").alias("_o2"), F.col("y").alias("yb")
    )
    qt = (
        expl.join(b, (F.col("_o") == F.col("_o2")))
        .groupBy("i", "j")
        .agg(F.sum(F.col("y") * F.col("yb")).alias("_qt"))
        .filter(F.abs(F.col("i") - F.col("j")) >= w)
    )
    sa = stats_f.select(
        F.col("t").alias("i"), F.col("d").alias("di"),
        F.col("_mu").alias("mi"), F.col("_sig").alias("si"),
    )
    sb = stats_f.select(
        F.col("t").alias("j"), F.col("d").alias("dj"),
        F.col("_mu").alias("mj"), F.col("_sig").alias("sj"),
    )
    dist = (
        qt.join(sa, "i")
        .join(sb, "j")
        .select(
            "i",
            "di",
            "dj",
            F.sqrt(
                F.greatest(
                    2.0
                    * w
                    * (
                        1.0
                        - (F.col("_qt") - w * F.col("mi") * F.col("mj"))
                        / (w * F.col("si") * F.col("sj"))
                    ),
                    F.lit(0.0),
                )
            ).alias("_dist"),
        )
    )
    mp = dist.groupBy("i", "di").agg(
        F.min("_dist").alias("mp_dist"),
        F.min_by("dj", F.struct("_dist", "dj")).alias("nn_day"),
    )
    return (
        mp.orderBy(F.desc("mp_dist"), F.asc("di"))
        .limit(top)
        .select(
            F.date_format("di", "yyyy-MM-dd").alias("start_day"),
            F.date_format("nn_day", "yyyy-MM-dd").alias("nn_day"),
            F.round("mp_dist", 6).alias("mp_dist"),
        )
    )


def sql_matrix_profile_discords(
    table: str = "events",
    ts_col: str = "ts",
    w: int = 7,
    top: int = 3,
) -> str:
    """DuckDB replay of :func:`matrix_profile_discords` — same rolling
    moments, offset join, exclusion zone and argmin tie rule."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT d, CAST(c AS DOUBLE) AS y,
            row_number() OVER (ORDER BY d) - 1 AS t
        FROM series
    ), st AS (
        SELECT t, d,
            count(*) OVER rw AS k,
            avg(y) OVER rw AS mu,
            sqrt(greatest(avg(y * y) OVER rw
                - (avg(y) OVER rw) * (avg(y) OVER rw), 0.0)) AS sig
        FROM idx
        WINDOW rw AS (ORDER BY t ROWS BETWEEN CURRENT ROW
                      AND {w - 1} FOLLOWING)
        QUALIFY k = {w} AND sig > 0
    ), expl AS (
        SELECT idx.t - o.o AS i, o.o, idx.y
        FROM idx CROSS JOIN (
            SELECT unnest(generate_series(0, {w - 1})) AS o) o
        WHERE idx.t - o.o >= 0
    ), qt AS (
        SELECT a.i, b.i AS j, sum(a.y * b.y) AS qt
        FROM expl a JOIN expl b ON a.o = b.o
        GROUP BY 1, 2
        HAVING abs(a.i - b.i) >= {w}
    ), dist AS (
        SELECT qt.i, sa.d AS di, sb.d AS dj,
            sqrt(greatest(2.0 * {w} * (1.0
                - (qt.qt - {w} * sa.mu * sb.mu)
                  / ({w} * sa.sig * sb.sig)), 0.0)) AS dd
        FROM qt
        JOIN st sa ON qt.i = sa.t
        JOIN st sb ON qt.j = sb.t
    ), mp AS (
        SELECT di, dd AS mpd_raw, dj AS nn_day
        FROM (
            SELECT di, dj, dd,
                row_number() OVER (PARTITION BY di
                    ORDER BY dd ASC, dj ASC) AS rn
            FROM dist
        ) WHERE rn = 1
    )
    -- ORDER BY the RAW distance: DuckDB binds an ORDER BY name to the
    -- SELECT alias, and ordering by the 6dp-rounded alias while Spark
    -- orders unrounded would let near-ties flip the top-N membership
    -- (r13 review)
    SELECT strftime(di, '%Y-%m-%d') AS start_day,
        strftime(nn_day, '%Y-%m-%d') AS nn_day,
        round(mpd_raw, 6) AS mp_dist
    FROM mp
    ORDER BY mpd_raw DESC, start_day ASC LIMIT {top}
    """


def spectral_entropy_daily(
    events: DataFrame,
    ts_col: str = "ts",
    max_period: int | None = None,
) -> DataFrame:
    """Normalized spectral entropy of the daily count series: the
    Shannon entropy of the (demeaned) periodogram, scaled to [0, 1] by
    ln(#frequencies) —

        p_k = a_k² + b_k²,  a_k = Σ ŷ_t cos(2πkt/n),  b_k likewise
        H   = −Σ (p_k/Σp) ln(p_k/Σp) / ln(m)

    H → 0 for a pure sinusoid (all power in one line), → 1 for white
    noise — the single-number 'how forecastable is this series'
    readout that decides whether the seasonal operators are worth
    running at all.  Frequencies k = 1..⌊(n−1)/2⌋.

    Plan: one spine pass, a (day × frequency) grid aggregate
    (dimension-sized: 365 × 182), two one-row folds.  Returns
    (n_days, n_freqs, spectral_entropy), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    series = pooled_persist(
        _daily_series(events, ts_col).select(
            "d", F.col("c").cast("double").alias("y")
        )
    )
    w_idx = Window.orderBy("d")
    idx = series.select(
        "y", (F.row_number().over(w_idx) - 1).cast("double").alias("t")
    )
    meta = series.agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("mu")
    )
    grid = idx.crossJoin(F.broadcast(meta))
    kmax = F.floor((F.col("n") - 1) / 2).cast("int")
    freqs = (
        meta.select(
            F.explode(F.sequence(F.lit(1), kmax)).alias("k"),
            F.col("n").alias("_n2"),
        )
    )
    if max_period is not None:
        freqs = freqs.filter(
            F.col("_n2") / F.col("k") <= max_period
        )
    ang = (
        2.0
        * math.pi
        * F.col("k").cast("double")
        * F.col("t")
        / F.col("n").cast("double")
    )
    per_k = (
        grid.join(F.broadcast(freqs.select("k")), F.lit(True))
        .select(
            "k",
            ((F.col("y") - F.col("mu")) * F.cos(ang)).alias("_ca"),
            ((F.col("y") - F.col("mu")) * F.sin(ang)).alias("_sb"),
        )
        .groupBy("k")
        .agg(
            F.sum("_ca").alias("_a"),
            F.sum("_sb").alias("_b"),
        )
        .select(
            "k",
            (F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b")).alias(
                "_p"
            ),
        )
    )
    tot = per_k.agg(
        F.count(F.lit(1)).alias("n_freqs"), F.sum("_p").alias("_tp")
    )
    ent = (
        per_k.crossJoin(F.broadcast(tot))
        .select(
            "n_freqs",
            F.when(
                F.col("_p") > 0,
                -(F.col("_p") / F.col("_tp"))
                * F.log(F.col("_p") / F.col("_tp")),
            )
            .otherwise(F.lit(0.0))
            .alias("_h"),
        )
        .groupBy("n_freqs")
        .agg(F.sum("_h").alias("_hs"))
    )
    return ent.crossJoin(F.broadcast(meta.select("n"))).select(
        F.col("n").alias("n_days"),
        "n_freqs",
        F.round(
            F.try_divide(
                F.col("_hs"), F.log(F.col("n_freqs").cast("double"))
            ),
            6,
        ).alias("spectral_entropy"),
    )


def sql_spectral_entropy_daily(
    table: str = "events", ts_col: str = "ts"
) -> str:
    """DuckDB replay of :func:`spectral_entropy_daily` — same demeaned
    periodogram and normalized Shannon fold."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    pi = repr(math.pi)
    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t
        FROM series
    ), meta AS (
        SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS mu FROM idx
    ), freqs AS (
        SELECT unnest(generate_series(1,
            CAST(floor((meta.n - 1) / 2.0) AS BIGINT))) AS k
        FROM meta
    ), per_k AS (
        SELECT f.k,
            sum((idx.y - meta.mu)
                * cos(2.0 * {pi} * f.k * idx.t / meta.n)) AS a,
            sum((idx.y - meta.mu)
                * sin(2.0 * {pi} * f.k * idx.t / meta.n)) AS b
        FROM idx CROSS JOIN meta CROSS JOIN freqs f
        GROUP BY 1
    ), pk AS (SELECT k, a * a + b * b AS p FROM per_k), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_freqs, sum(p) AS tp FROM pk
    ), ent AS (
        SELECT tot.n_freqs,
            sum(CASE WHEN p > 0
                     THEN -(p / tot.tp) * ln(p / tot.tp)
                     ELSE 0.0 END) AS hs
        FROM pk CROSS JOIN tot GROUP BY 1
    )
    SELECT meta.n AS n_days, ent.n_freqs,
        round(hs / nullif(ln(CAST(ent.n_freqs AS DOUBLE)), 0.0), 6)
            AS spectral_entropy
    FROM ent CROSS JOIN meta
    """


def sample_entropy_daily(
    events: DataFrame,
    ts_col: str = "ts",
    m: int = 2,
    r_frac: float = 0.2,
) -> DataFrame:
    """Sample entropy (Richman-Moorman) of the daily series:
    −ln(A/B) where B counts pairs of m-day templates within Chebyshev
    tolerance r = ``r_frac``·σ and A the same for m+1 — LOW SampEn =
    repetitive, predictable dynamics; HIGH = irregular.  The
    complexity readout regularity-of-traffic dashboards quote.

    Template indices run over i, j ≤ n − m − 1 (both lengths defined),
    i ≠ j, unordered pairs counted once.  All-pairs is dimension-grain
    (spine windows), the matrix-profile join shape re-used with a
    Chebyshev fold.  Returns (n_days, r_tol, b_pairs, a_pairs,
    sampen), 6dp; degenerate series (B = 0 or A = 0) degrade to NULL
    via try_divide/log."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.operators.stats import _daily_series
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    series = pooled_persist(
        _daily_series(events, ts_col).select(
            "d", F.col("c").cast("double").alias("y")
        )
    )
    w_idx = Window.orderBy("d")
    idx = series.select(
        "y", (F.row_number().over(w_idx) - 1).alias("t")
    )
    meta = series.agg(
        F.count(F.lit(1)).alias("n"),
        (F.stddev_pop("y") * r_frac).alias("r"),
    )
    spark = events.sparkSession
    offs = spark.range(m + 1).select(F.col("id").cast("int").alias("_o"))
    expl = pooled_persist(
        idx.crossJoin(F.broadcast(offs))
        .select((F.col("t") - F.col("_o")).alias("i"), "_o", "y")
        .filter(F.col("i") >= 0)
    )
    b_side = expl.select(
        F.col("i").alias("j"), F.col("_o").alias("_o2"),
        F.col("y").alias("yb"),
    )
    pairs = (
        expl.join(b_side, F.col("_o") == F.col("_o2"))
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("_k"),
            F.max(
                F.when(
                    F.col("_o") < m, F.abs(F.col("y") - F.col("yb"))
                )
            ).alias("_chm"),
            F.max(F.abs(F.col("y") - F.col("yb"))).alias("_chm1"),
        )
        .filter(F.col("_k") == m + 1)  # both templates fully defined
    )
    folded = pairs.crossJoin(F.broadcast(meta)).agg(
        F.first("n").alias("n_days"),
        F.round(F.first("r"), 6).alias("r_tol"),
        F.sum(
            F.when(F.col("_chm") <= F.col("r"), 1).otherwise(0)
        ).alias("b_pairs"),
        F.sum(
            F.when(F.col("_chm1") <= F.col("r"), 1).otherwise(0)
        ).alias("a_pairs"),
    )
    return folded.select(
        "n_days",
        "r_tol",
        "b_pairs",
        "a_pairs",
        F.round(
            F.when(
                (F.col("a_pairs") > 0) & (F.col("b_pairs") > 0),
                -F.log(
                    F.col("a_pairs").cast("double")
                    / F.col("b_pairs").cast("double")
                ),
            ),
            6,
        ).alias("sampen"),
    )


def sql_sample_entropy_daily(
    table: str = "events",
    ts_col: str = "ts",
    m: int = 2,
    r_frac: float = 0.2,
) -> str:
    """DuckDB replay of :func:`sample_entropy_daily` — same template
    universe, Chebyshev folds and tolerance."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        _sql_daily_series,
    )

    return f"""
    WITH {_sql_daily_series(table, ts_col, '1=1')}, idx AS (
        SELECT CAST(c AS DOUBLE) AS y,
            row_number() OVER (ORDER BY d) - 1 AS t
        FROM series
    ), meta AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
            stddev_pop(y) * {r_frac!r} AS r
        FROM idx
    ), expl AS (
        SELECT idx.t - o.o AS i, o.o, idx.y
        FROM idx CROSS JOIN (
            SELECT unnest(generate_series(0, {m})) AS o) o
        WHERE idx.t - o.o >= 0
    ), pairs AS (
        SELECT a.i, b.i AS j, count(*) AS k,
            max(CASE WHEN a.o < {m} THEN abs(a.y - b.y) END) AS chm,
            max(abs(a.y - b.y)) AS chm1
        FROM expl a JOIN expl b ON a.o = b.o
        WHERE a.i < b.i
        GROUP BY 1, 2
        HAVING count(*) = {m + 1}
    ), folded AS (
        SELECT first(meta.n) AS n_days, round(first(meta.r), 6) AS r_tol,
            CAST(sum(CASE WHEN chm <= meta.r THEN 1 ELSE 0 END)
                 AS BIGINT) AS b_pairs,
            CAST(sum(CASE WHEN chm1 <= meta.r THEN 1 ELSE 0 END)
                 AS BIGINT) AS a_pairs
        FROM pairs CROSS JOIN meta
    )
    SELECT n_days, r_tol, b_pairs, a_pairs,
        round(-ln(nullif(a_pairs, 0)
                  / nullif(CAST(b_pairs AS DOUBLE), 0.0)), 6) AS sampen
    FROM folded
    """
