"""Mergeable distinct-count sketches: the pre-aggregated HLL rollup.

The profiling family already exposes the two endpoints of the
distinct-count spectrum — exact (operators/profile.py, the sf0.01 oracle
anchor) and one-shot ``approx_count_distinct`` (the benched scale flavor).
What neither gives a 100 TB warehouse is *reusability*: a dashboard that
needs distinct users per day AND per week AND overall must either rescan
the raw events for every granularity or store something mergeable.

This module is that third shape, built on Spark's Apache DataSketches
HLL functions (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``): aggregate the raw stream ONCE into per-day
binary sketches, then answer every coarser granularity by merging the
sketch column — no second pass over the data, unions cost bytes-per-day
not rows. This is the canonical pre-aggregation pattern for streaming +
batch distinct-count serving (the daily sketch table is what you persist
at ingest; rollups read only it).

Correctness posture: HLL estimates are algorithm-specific (DataSketches
HLL_4), so there is no DuckDB oracle — DuckDB's approx_count_distinct is
a different HLL implementation and cannot hash-match. The registry entry
is rows-only BY DESIGN (like viz_projection); the error contract is
enforced by tests instead: merged weekly/overall estimates must agree
with exact distinct counts within the published relative-error envelope
of lgConfigK=12 (~1.6% σ, tests assert 5%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LG_CONFIG_K = 12


def daily_user_sketches(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lg_config_k: int = LG_CONFIG_K,
) -> DataFrame:
    """The ingest-side table: (day, user sketch, n_events). One shuffle on
    day; the sketch column is the mergeable state every rollup reads."""
    return (
        events.select(F.to_date(ts_col).alias("day"), F.col(user_col))
        .groupBy("day")
        .agg(
            F.hll_sketch_agg(user_col, F.lit(lg_config_k)).alias("user_sketch"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def rollup_user_sketches(daily: DataFrame) -> DataFrame:
    """Merge the daily sketch table to weekly granularity plus an overall
    row — WITHOUT touching raw events. Returns
    (period, est_users, n_events) where period is the Monday of the week
    ('yyyy-MM-dd') or 'total'. Estimates are DataSketches HLL_4 unions:
    the weekly row is the union of its days, the total row the union of
    all days, so double-counting across days is impossible (the property
    a naive sum-of-daily-distincts gets wrong).
    """
    weekly = (
        daily.groupBy(
            F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd").alias("period")
        )
        .agg(
            F.hll_union_agg("user_sketch").alias("sk"),
            F.sum("n_events").alias("n_events"),
        )
    )
    total = daily.agg(
        F.lit("total").alias("period"),
        F.hll_union_agg("user_sketch").alias("sk"),
        F.sum("n_events").alias("n_events"),
    )
    return weekly.unionByName(total).select(
        "period",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "n_events",
    )


def distinct_users_rollup(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lg_config_k: int = LG_CONFIG_K,
) -> DataFrame:
    """End-to-end convenience: raw events -> daily sketches -> weekly +
    total estimates. Production splits this at the daily table (persist it
    via sources/sinks.py:23 parquet sink — BINARY sketch column round-trips
    through parquet); the composed form is what the registry query runs.
    """
    return rollup_user_sketches(
        daily_user_sketches(events, user_col, ts_col, lg_config_k)
    )


def merge_daily_sketches(partials: DataFrame) -> DataFrame:
    """Compact an append-only PARTIAL sketch table (multiple rows per day,
    e.g. one per streaming micro-batch) back to one row per day. Sketch
    union is associative + idempotent-under-regrouping, so compaction
    changes layout, never answers; ``rollup_user_sketches`` gives the
    same result on partials or on the compacted table (tested)."""
    return partials.groupBy("day").agg(
        F.hll_union_agg("user_sketch").alias("user_sketch"),
        F.sum("n_events").alias("n_events"),
    )


# --- count-min sketch (deterministic, oracle-checkable) ---------------------


def _cm_halves(token: F.Column) -> tuple[F.Column, F.Column]:
    h = F.md5(token)
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long"),
    )


def countmin_counters(
    df: DataFrame,
    item_col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch counter table (row_i, pos, c): each item
    occurrence increments one counter per row, position = (h1 + i*h2)
    mod width over the md5 halves (Kirsch-Mitzenmacher, same family as
    the bloom prefilter — and, unlike Spark's JVM-private CountMinSketch
    binary, exactly replayable in SQL on any engine).

    Scale: the token stream folds to depth*width counters through ONE
    map-side-combinable groupBy — the sketch is the shuffle's entire
    payload, independent of stream size or vocabulary. The counter table
    is what you persist; estimation reads only it."""
    h1, h2 = _cm_halves(F.col(item_col))
    pos = F.array(*[(h1 + F.lit(i) * h2) % width for i in range(depth)])
    return (
        df.select(F.posexplode(pos).alias("row_i", "pos"))
        .groupBy("row_i", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_estimate_topk(
    df: DataFrame,
    item_col: str = "token",
    k: int = 20,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Exact top-``k`` heavy hitters with their count-min estimates and
    realized overestimate (est - true, provably >= 0 — the one-sided CM
    error is part of the checked answer). The exact pass anchors
    correctness at oracle scale; at 100 TB the same counter table serves
    any candidate set (e.g. a per-partition local-top union) without
    rescanning the stream."""
    counters = countmin_counters(df, item_col, depth, width)
    exact = (
        df.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc(item_col))
        .limit(k)
    )
    # validate=False: counters were just built with these same params,
    # and eager validation would double-compute the corpus fold
    est = countmin_estimate(
        counters, exact, item_col, depth, width, validate=False
    )
    return est.select(
        item_col,
        "true_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("true_cnt")).alias("overestimate"),
    )


def countmin_estimate(
    counters: DataFrame,
    candidates: DataFrame,
    item_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    validate: bool = True,
) -> DataFrame:
    """Count-min estimates for a candidate set against a PRE-BUILT (or
    merged streaming) counter table: min over the candidate's per-row
    counters. Carries every non-item column of ``candidates`` through.
    The counter table is depth*width rows -> always broadcast-able.

    LEFT join + coalesce(0): counter tables store only cells with c>=1,
    and a never-ingested candidate's empty cells MUST enter the min as
    zeros — an inner join would drop the candidate (or overestimate
    from the colliding subset), breaking both the carry-through contract
    and the cm_est=0 answer (review finding).

    ``validate`` (default on) asserts the stored cell geometry MATCHES
    (depth, width), in both directions: coordinates must fit the bounds
    (a larger-built table hashes to WRONG cells -> meaningless
    estimates), and every row 0..depth-1 must be present (ingest writes
    one cell per row for every item, so a non-empty table built at a
    SMALLER depth — or a partially-written one — is missing rows, and
    the LEFT join + coalesce(0) would silently UNDERestimate, breaking
    the one-sided est>=true guarantee). The check is one agg over the
    dimension-sized counter table; pass ``validate=False`` when the
    caller constructed the table with the same params in-plan (the topk
    path does), since validating would double-compute the fold."""
    if validate:
        bounds = counters.agg(
            F.max("row_i").alias("r"),
            F.max("pos").alias("p"),
            F.countDistinct("row_i").alias("nr"),
        ).first()
        if bounds.r is not None and (bounds.r >= depth or bounds.p >= width):
            raise ValueError(
                f"counter table exceeds (depth={depth}, width={width}): "
                f"max row_i={bounds.r}, max pos={bounds.p} — built with "
                "different parameters?"
            )
        if bounds.r is not None and bounds.nr != depth:
            raise ValueError(
                f"counter table covers only {bounds.nr} of {depth} rows "
                f"(max row_i={bounds.r}) — built at smaller depth or "
                "partially written? estimates would silently "
                "underestimate"
            )
    h1, h2 = _cm_halves(F.col(item_col))
    pos = F.array(*[(h1 + F.lit(i) * h2) % width for i in range(depth)])
    carry = [c for c in candidates.columns if c != item_col]
    cand = candidates.select(
        item_col, *carry, F.posexplode(pos).alias("row_i", "pos")
    )
    return (
        cand.join(F.broadcast(counters), ["row_i", "pos"], "left")
        .groupBy(item_col, *carry)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cm_est"))
    )


def sql_countmin_topk(
    table: str = "documents",
    text_col: str = "text",
    k: int = 20,
    depth: int = 4,
    width: int = 1024,
) -> str:
    """DuckDB replay of ``countmin_estimate_topk`` over the same
    single-space tokenization and hash family."""
    return f"""
    WITH toks AS (
        SELECT unnest(string_split({text_col}, ' ')) AS token FROM {table}
    ),
    h AS (
        SELECT token,
            CAST(('0x' || substr(md5(token), 1, 8)) AS UBIGINT) AS h1,
            CAST(('0x' || substr(md5(token), 9, 8)) AS UBIGINT) AS h2
        FROM toks
    ),
    pairs AS (
        SELECT i, (h1 + i * h2) % {width} AS pos
        FROM h, unnest(generate_series(0, {depth - 1})) AS g(i)
    ),
    counters AS (
        SELECT i AS row_i, pos, count(*) AS c FROM pairs GROUP BY 1, 2
    ),
    exact AS (
        SELECT token, count(*) AS true_cnt FROM toks GROUP BY token
        ORDER BY true_cnt DESC, token LIMIT {k}
    ),
    cand AS (
        SELECT e.token, e.true_cnt, i AS row_i,
            (CAST(('0x' || substr(md5(e.token), 1, 8)) AS UBIGINT)
             + i * CAST(('0x' || substr(md5(e.token), 9, 8)) AS UBIGINT))
            % {width} AS pos
        FROM exact e, unnest(generate_series(0, {depth - 1})) AS g(i)
    )
    SELECT c.token, c.true_cnt,
        CAST(min(k.c) AS BIGINT) AS cm_est,
        CAST(min(k.c) - c.true_cnt AS BIGINT) AS overestimate
    FROM cand c JOIN counters k USING (row_i, pos)
    GROUP BY c.token, c.true_cnt
    """


# --- KMV (k-minimum-values) distinct sketch ----------------------------------
#
# The HASH-GREEN sibling of the HLL rollup: HLL's DataSketches binary is
# JVM-private (rows-only in the registry), but the KMV estimator —
# "keep the k smallest distinct hash values; distinct ~= (k-1) / kth
# normalized minimum" (Bar-Yossef et al. 2002, the theta-sketch core) —
# is pure deterministic arithmetic over md5, so a DuckDB oracle replays
# it bit-for-bit. Same mergeable-partials serving contract: per-slice
# k-row sketch tables, union + re-cut = the slice-union's sketch
# EXACTLY (bottom-k of a union == bottom-k of the unions' bottom-ks),
# merge-on-read, nothing rescanned.

_KMV_DOMAIN = float(1 << 60)  # 15 hex chars of md5


def kmv_hash60(item) -> "F.Column":
    """Deterministic 60-bit uniform hash (15 hex chars of md5) — the
    shared engine/oracle idiom (`CAST(('0x'||substr(md5(x),1,15)) AS
    BIGINT)` on the DuckDB side). Shared by the KMV sketch, the
    priority sampler, and negative sampling — one definition so the
    engine/oracle pair can never half-diverge."""
    return F.conv(
        F.substring(F.md5(item.cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_sketch(df: DataFrame, item_col: str, k: int = 256) -> DataFrame:
    """Build the k-row sketch table: the ``k`` smallest DISTINCT hash
    values of ``item_col``. Plan shape: one map-side-combinable distinct
    on the 8-byte hash, then TakeOrderedAndProject (per-partition heaps
    — never a global sort). The result is <= k rows regardless of input
    size: the broadcastable, mergeable state every serving layer wants.

    NULL items are excluded (matching countDistinct semantics — and
    necessarily: a NULL hash would sort FIRST under Spark's ascending
    NULLS FIRST but LAST in the DuckDB replay, wasting a slot on one
    engine only)."""
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(kmv_hash60(F.col(item_col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(sketches: DataFrame, k: int = 256) -> DataFrame:
    """Merge any number of stacked sketch tables (a unioned frame of
    ``h`` columns): distinct + re-cut to k. Exactly equals the sketch of
    the unioned raw data (set algebra, not approximation — the
    mergeability the streaming ingest loop relies on)."""
    return sketches.select("h").distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """One-row estimate off a sketch table: exact count when the sketch
    holds fewer than k hashes (every distinct value is present), else
    (k-1) * DOMAIN / kth_min — identical float expression on both
    engines, so the estimate itself hash-matches."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("_hk")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("_hk").cast("double")
    )
    return agg.select(
        "n_kept", F.round(est, 4).alias("distinct_estimate")
    )


def sql_kmv_estimate(
    table: str,
    item_col: str,
    k: int = 256,
    where: str = "1=1",
    with_exact: bool = False,
) -> str:
    """DuckDB replay of sketch-build + estimate (same md5 prefix, same
    bottom-k, same estimator arithmetic). ``with_exact`` adds the true
    distinct count so the registry row documents the error envelope."""
    exact_sel = (
        f", (SELECT count(DISTINCT {item_col}) FROM {table} WHERE {where})"
        " AS exact_distinct"
        if with_exact
        else ""
    )
    return f"""
    WITH hashes AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST({item_col} AS VARCHAR)), 1, 15))
            AS BIGINT) AS h
        FROM {table} WHERE ({where}) AND {item_col} IS NOT NULL
    ), sk AS (SELECT h FROM hashes ORDER BY h LIMIT {k}),
    agg AS (SELECT count(*) AS n_kept, max(h) AS hk FROM sk)
    SELECT n_kept,
        round(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
              ELSE {float(k - 1)} * {_KMV_DOMAIN} / CAST(hk AS DOUBLE)
              END, 4) AS distinct_estimate{exact_sel}
    FROM agg
    """


_kmv_hash = kmv_hash60  # backward-compat private alias


def kmv_sketch_by(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = 64,
    safety: float | None = 8.0,
    prefilter_min_pairs: int = 500_000,
    gate_df: DataFrame | None = None,
    gate_scale: float = 1.0,
) -> DataFrame:
    """Per-GROUP KMV sketch table: the k smallest distinct item hashes
    within each group (group_cols..., h) — per-day / per-source distinct
    state that merges exactly like the global sketch (union partials,
    re-rank, cut).

    Plan (r9 THRESHOLD PREFILTER — the theta-sketch update rule): the
    bottom-k of a group only ever lives below ~k/n of the hash domain,
    so a cheap per-group cardinality estimate (approx_count_distinct,
    no exact-distinct shuffle) sets a keep-threshold of
    ``safety * k / n_est * DOMAIN``; the raw stream filters to the
    expected ``safety * k`` survivors per group BEFORE the distinct and
    the rank, which then touch parameter-sized frames instead of the
    full (group, hash) set. Measured at the events100x tier (10M rows,
    ~30 day groups): 11.1 s -> ~2 s.

    EXACTNESS GUARD: the filtered bottom-k equals the true bottom-k iff
    a group keeps >= k survivors or was not filtered at all (threshold
    = DOMAIN when n_est <= safety*k). With safety=8 the failure odds
    are Chernoff-negligible, but the property is CHECKED, not assumed —
    a violating group (pathological approx_count_distinct underestimate)
    raises a named error telling the caller to raise ``safety``; the
    single-rank result is proven equal by test. ``safety=None``
    disables the prefilter (the r8 single-window formulation).

    SAMPLED GATE SEAM (r12 verdict #1/#5 — kills the double scan of an
    EXPENSIVE input): ``gate_df``, when given, replaces ``df`` as the
    input of the cardinality-estimate aggregate only — typically a
    doc-level SAMPLE of the pre-explode frame, so the gate scan costs
    ~fraction of the build scan instead of duplicating it.  Exactness
    is one-sided by construction: the sampled ``_n`` UNDERESTIMATES the
    true per-group cardinality, so the keep-threshold
    ``safety*k/_n*DOMAIN`` only GROWS (keeps strictly more survivors
    than the full-scan gate would), and the kept>=k guard still checks
    the property loudly.  Groups entirely absent from the sample are
    joined LEFT with a DOMAIN default — never filtered, never dropped.
    ``gate_scale`` (≈ 1/sample_fraction) rescales the sampled ``_n``
    for the ENGAGEMENT decision only (conditions (a)/(b) below), never
    for the threshold — engagement errs toward engaging, which at
    worst costs the 3 small gate jobs; the threshold erring larger
    costs a few extra survivor rows; neither can cut a true bottom-k
    member."""
    from pyspark.sql import Window

    hashes_raw = df.filter(F.col(item_col).isNotNull()).select(
        *group_cols, kmv_hash60(F.col(item_col)).alias("h")
    )
    if safety is not None and prefilter_min_pairs > 0:
        # ZERO-JOB size gate (r10): Catalyst's plan-size estimate comes
        # from parquet footer sizes — no job runs. CALIBRATION TRAP
        # (r10 bench finding): the OPTIMIZED plan's estimate reflects
        # COLUMN PRUNING, so a 205 MB events file projected to
        # (day, user) estimates at ~92 MB — an earlier 128 MB threshold
        # therefore disabled the prefilter at the very 100x tier it was
        # built for (11.4 s vs 4.9 s engaged). r14 recalibration: the
        # docs10x (doc_id, text) scan estimates at 3.9 MB, so the old
        # 16 MB gate ALSO disabled the prefilter exactly where it pays
        # (vocab_growth_sketch then ran the full distinct + 10-partition
        # window over the 2.4M-row gram-hash stream — 16.9 s committed
        # at docs10x vs 15.9 s at docs100x WITH the prefilter on 10x
        # the data). 2 MB keeps the margin on the small side (sf0.1
        # docs estimate 0.24 MB, 8x under) and hands every tier-scale
        # input to the est-based gate below, which decides on real
        # per-group cardinalities. prefilter_min_pairs=0 bypasses both
        # gates (tests / forced engagement).
        try:
            size = (
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
            # py4j maps scala BigInt to Python int; older bridges hand
            # back the object — normalize through str
            if int(str(size)) < 2 * 1024 * 1024:
                safety = None
        except Exception:
            pass  # unknown stats -> fall through to the est-based gate
    if safety is not None:
        from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

        # group-sized; persisted because it feeds BOTH the broadcast
        # prefilter and the exactness guard below (one scan, not two).
        # gate_df (the sampled-gate seam) substitutes a cheap stand-in
        # for the expensive input here — the ONLY place it is read.
        est = pooled_persist(
            (gate_df if gate_df is not None else df)
            .filter(F.col(item_col).isNotNull())
            .groupBy(*group_cols)
            .agg(F.approx_count_distinct(item_col).alias("_n"))
        )
        # ADAPTIVE GATE (r10): the prefilter costs an extra full scan
        # (the est aggregate), a broadcast join on the raw hash stream,
        # and an eager guard count() — 3 extra jobs that quadrupled the
        # sf0.1 headline in r9 while buying a real 2.3x at events100x.
        # It pays only when BOTH hold, decided by one branch on the
        # dimension-sized est aggregate:
        #   (a) max(_n) > safety*k — otherwise every group's threshold
        #       degenerates to DOMAIN and the filter provably cannot
        #       cut a row;
        #   (b) sum(_n) >= prefilter_min_pairs — the distinct's shuffle
        #       carries ~sum(_n) (group, hash) pairs after map-side
        #       combine; below ~0.5M pairs the shuffle is cheaper than
        #       the prefilter's own extra scan + guard jobs on ANY
        #       cluster, so cutting it cannot pay. At 100x scales both
        #       conditions hold and the prefilter engages as before.
        gate = est.agg(
            F.max("_n").alias("m"),
            F.sum("_n").alias("s"),
            F.count(F.lit(1)).alias("g"),
        ).first()
        # condition (a) stays UNSCALED: if even the (under-estimating)
        # sampled max can't clear safety*k, every threshold degenerates
        # to DOMAIN and the filter provably cuts nothing — engaging is
        # pure overhead.  condition (b) scales the sampled pair-volume
        # proxy back up by gate_scale (~1/fraction): erring toward
        # engagement, whose worst case is 3 small jobs on the SAMPLED
        # gate, not the r9 full-stream regression.
        if (
            gate is None
            or (gate["m"] or 0) <= int(safety * k)
            or (gate["s"] or 0) * gate_scale < prefilter_min_pairs
        ):
            safety = None
    if safety is not None:
        thr = F.when(
            F.col("_n") <= F.lit(int(safety * k)), F.lit(int(_KMV_DOMAIN))
        ).otherwise(
            (
                F.lit(float(safety * k))
                / F.col("_n").cast("double")
                * F.lit(_KMV_DOMAIN)
            ).cast("long")
        )
        if len(group_cols) == 1 and int(gate["g"] or 0) <= 1024:
            # LITERAL-MAP threshold (r12): for a single dimension-grain
            # group key the thresholds fit in a map literal, so the
            # filter stays inside whole-stage codegen — measured 0.8 s
            # vs 1.7 s for the null-safe broadcast hash join over the
            # 10M-row events100x stream.  An absent key (NULL group, or
            # a group the sampled gate never saw) looks up NULL and
            # coalesces to DOMAIN — unfiltered, never dropped.
            key = group_cols[0]
            thr_rows = est.select(
                F.col(key).alias("_g"), thr.alias("_thr")
            ).collect()
            pairs = [
                x
                for r in thr_rows
                if r["_g"] is not None
                for x in (F.lit(r["_g"]), F.lit(r["_thr"]))
            ]
            lookup = (
                F.create_map(*pairs)[F.col(key)]
                if pairs
                else F.lit(None).cast("long")
            )
            hashes_raw = hashes_raw.filter(
                F.col("h") < F.coalesce(lookup, F.lit(int(_KMV_DOMAIN)))
            )
        else:
            # NULL-SAFE group equality: a NULL group key is a real
            # group to Window.partitionBy, so the prefilter join must
            # not drop it (plain equality would cut every NULL-group
            # hash and then either silently lose the group or trip the
            # guard).  LEFT join with DOMAIN default: a group the
            # (possibly sampled) gate never saw passes UNFILTERED.
            thr_tbl = est.select(
                *[F.col(c).alias(f"__t_{c}") for c in group_cols],
                thr.alias("_thr"),
            )
            cond = None
            for c in group_cols:
                e = hashes_raw[c].eqNullSafe(thr_tbl[f"__t_{c}"])
                cond = e if cond is None else cond & e
            hashes_raw = (
                hashes_raw.join(F.broadcast(thr_tbl), cond, "left")
                .filter(
                    F.col("h")
                    < F.coalesce(F.col("_thr"), F.lit(int(_KMV_DOMAIN)))
                )
                .select(*group_cols, "h")
            )
        # FUSED single-shuffle build (r12): dense_rank over the
        # survivor stream dedupes and cuts in ONE wide exchange — the
        # old distinct-then-row_number pair shuffled the survivors
        # twice.  dense_rank gives duplicate (group, h) rows the same
        # rank, so the <= k cut keeps the bottom-k DISTINCT hashes
        # (plus their duplicates), and the dropDuplicates runs on the
        # parameter-sized cut.  Skew bound: survivors per group are
        # ~safety*k*(gate underestimate), never the raw stream.
        w = Window.partitionBy(*group_cols).orderBy("h")
        sketch = pooled_persist(
            hashes_raw.withColumn("_dr", F.dense_rank().over(w))
            .filter(F.col("_dr") <= k)
            .drop("_dr")
            .dropDuplicates([*group_cols, "h"])
        )
        # loud exactness check ON THE CUT sketch (one small eager job):
        # n_kept = min(k, distinct survivors), so n_kept < k iff the
        # group kept < k survivors — the same property the old pre-cut
        # count checked, now read off the frame we return anyway.
        # est-side NULL-SAFE LEFT join: a group whose EVERY hash was
        # cut has no kept row at all — exactly the worst violation, so
        # it must not fall out of the check (nor may a NULL group).
        kept_tbl = sketch.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("_kept")
        ).select(
            *[F.col(c).alias(f"__k_{c}") for c in group_cols],
            F.col("_kept"),
        )
        gcond = None
        for c in group_cols:
            e = est[c].eqNullSafe(kept_tbl[f"__k_{c}"])
            gcond = e if gcond is None else gcond & e
        n_bad = (
            est.join(kept_tbl, gcond, "left")
            .filter(
                (F.coalesce(F.col("_kept"), F.lit(0)) < k)
                & (F.col("_n") > F.lit(int(safety * k)))
            )
            .count()
        )
        if n_bad:
            raise ValueError(
                f"kmv_sketch_by prefilter kept < k hashes for "
                f"{n_bad} group(s) — raise safety (= {safety})"
            )
        return sketch
    hashes = hashes_raw.select(*group_cols, "h").distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate_by(
    sketch: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Per-group estimates off a ``kmv_sketch_by`` table — same
    estimator arithmetic as the global ``kmv_estimate``, one row per
    group."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("_hk")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("_hk").cast("double")
    )
    return agg.select(
        *group_cols, "n_kept", F.round(est, 4).alias("distinct_estimate")
    )


def sql_kmv_estimate_by(
    table: str,
    group_expr: str,
    group_alias: str,
    item_col: str,
    k: int = 64,
    where: str = "1=1",
) -> str:
    """DuckDB replay of per-group sketch + estimate."""
    return f"""
    WITH hashes AS (
        SELECT DISTINCT {group_expr} AS {group_alias},
            CAST(('0x' || substr(md5(CAST({item_col} AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
        FROM {table} WHERE ({where}) AND {item_col} IS NOT NULL
    ), ranked AS (
        SELECT {group_alias}, h,
            row_number() OVER (PARTITION BY {group_alias} ORDER BY h) AS rn
        FROM hashes
    ), agg AS (
        SELECT {group_alias}, count(*) AS n_kept, max(h) AS hk
        FROM ranked WHERE rn <= {k} GROUP BY {group_alias}
    )
    SELECT {group_alias}, n_kept,
        round(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
              ELSE {float(k - 1)} * {_KMV_DOMAIN} / CAST(hk AS DOUBLE)
              END, 4) AS distinct_estimate
    FROM agg
    """


def kmv_set_ops(
    df_a: DataFrame, df_b: DataFrame, item_col: str, k: int = 256
) -> DataFrame:
    """Set-operation estimates from two KMV sketches — union, Jaccard,
    and intersection cardinality WITHOUT touching the raw sets again:

        J  ~= |{h in bottomk(A u B) : h in skA and h in skB}| / |kept|
        |A u B| from the union sketch's kth min (the usual estimator)
        |A n B| ~= J * |A u B|

    Sound because the union sketch's kth min <= each side's kth min, so
    every union-sketch member that belongs to A (or B) is inside that
    side's bottom-k — membership tests against the k-row sketch tables
    are exact. Everything after the two sketch builds is k-row-sized:
    two broadcastable joins + one aggregate; the sketches themselves
    are the mergeable state (ship them, not the sets).

    Returns one row (n_union_kept, shared, union_est, jaccard_est,
    intersection_est) — deterministic md5 arithmetic, so the raw
    doubles hash-match the SQL replay."""
    ska = kmv_sketch(df_a, item_col, k).withColumnRenamed("h", "ha")
    skb = kmv_sketch(df_b, item_col, k).withColumnRenamed("h", "hb")
    un = kmv_merge(
        ska.select(F.col("ha").alias("h")).union(
            skb.select(F.col("hb").alias("h"))
        ),
        k,
    )
    marked = (
        un.join(F.broadcast(ska), un["h"] == ska["ha"], "left")
        .join(F.broadcast(skb), un["h"] == skb["hb"], "left")
        .select(
            "h",
            (F.col("ha").isNotNull() & F.col("hb").isNotNull()).alias("_both"),
        )
    )
    agg = marked.agg(
        F.count(F.lit(1)).alias("n_union_kept"),
        F.sum(F.col("_both").cast("long")).alias("shared"),
        F.max("h").alias("_hk"),
    )
    union_est = F.when(
        F.col("n_union_kept") < k, F.col("n_union_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("_hk").cast("double")
    )
    jac = F.col("shared").cast("double") / F.col("n_union_kept").cast("double")
    return agg.select(
        "n_union_kept",
        "shared",
        F.round(union_est, 4).alias("union_est"),
        F.round(jac, 6).alias("jaccard_est"),
        F.round(jac * union_est, 4).alias("intersection_est"),
    )


def sql_kmv_set_ops(
    table: str,
    item_expr: str,
    where_a: str,
    where_b: str,
    k: int = 256,
) -> str:
    """DuckDB replay of ``kmv_set_ops`` (same md5 prefix hash, same
    bottom-k cuts, same estimator arithmetic before the shared
    rounds)."""
    h = (
        f"CAST(('0x' || substr(md5(CAST({item_expr} AS VARCHAR)), 1, 15)) "
        "AS BIGINT)"
    )
    return f"""
    WITH ska AS (
        SELECT DISTINCT {h} AS h FROM {table}
        WHERE ({where_a}) AND {item_expr} IS NOT NULL
        ORDER BY h LIMIT {k}
    ), skb AS (
        SELECT DISTINCT {h} AS h FROM {table}
        WHERE ({where_b}) AND {item_expr} IS NOT NULL
        ORDER BY h LIMIT {k}
    ), un AS (
        SELECT DISTINCT h FROM (
            SELECT h FROM ska UNION ALL SELECT h FROM skb
        ) ORDER BY h LIMIT {k}
    ), marked AS (
        SELECT un.h,
            (a.h IS NOT NULL AND b.h IS NOT NULL) AS both_in
        FROM un
        LEFT JOIN ska a ON un.h = a.h
        LEFT JOIN skb b ON un.h = b.h
    ), agg AS (
        SELECT count(*) AS n_union_kept,
            CAST(sum(CASE WHEN both_in THEN 1 ELSE 0 END) AS BIGINT) AS shared,
            max(h) AS hk
        FROM marked
    )
    SELECT n_union_kept, shared,
        round(CASE WHEN n_union_kept < {k} THEN CAST(n_union_kept AS DOUBLE)
              ELSE {float(k - 1)} * {_KMV_DOMAIN} / CAST(hk AS DOUBLE)
              END, 4) AS union_est,
        round(CAST(shared AS DOUBLE) / CAST(n_union_kept AS DOUBLE), 6)
            AS jaccard_est,
        round(CAST(shared AS DOUBLE) / CAST(n_union_kept AS DOUBLE)
              * CASE WHEN n_union_kept < {k} THEN CAST(n_union_kept AS DOUBLE)
                ELSE {float(k - 1)} * {_KMV_DOMAIN} / CAST(hk AS DOUBLE)
                END, 4) AS intersection_est
    FROM agg
    """


def cm_join_size_estimate(
    df_a: DataFrame,
    df_b: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    with_exact: bool = False,
) -> DataFrame:
    """Equi-join CARDINALITY estimate from two count-min sketches
    (AMS/CM inner product): |A join B on v| = sum_v fA(v) * fB(v), and
    each sketch row's inner product sum_pos cmA[r,p] * cmB[r,p]
    OVER-estimates it (collisions only add), so min over rows is the
    one-sided estimate — the classic streaming join-size estimator a
    planner consults before picking a strategy.

    Scale: each side folds to its depth*width counter table (the only
    shuffle payload); the product join is counter-table-sized. Absent
    cells multiply to zero, so the inner join on (row_i, pos) is exact.
    ``with_exact`` adds the true join size (one aggregate per side +
    a key-sized join) to document the error envelope.

    Returns one row (join_size_est[, exact_join_size, overestimate])."""
    ca = countmin_counters(df_a, item_col, depth, width)
    cb = countmin_counters(df_b, item_col, depth, width).select(
        F.col("row_i"), F.col("pos"), F.col("c").alias("cb")
    )
    # LEFT join + coalesce(0): every ingested item writes a cell in
    # EVERY row of ca, so grouping ca's side keeps all depth rows even
    # when a row shares no cells with cb — an inner join would drop
    # zero-product rows and take the min over colliding rows only
    # (disjoint inputs would estimate NULL instead of 0; r9 review
    # finding). coalesce(min, 0) covers the empty-A case.
    ip = (
        ca.join(cb, ["row_i", "pos"], "left")
        .groupBy("row_i")
        .agg(
            F.sum(
                F.col("c") * F.coalesce(F.col("cb"), F.lit(0))
            ).alias("ip")
        )
    )
    est = ip.agg(
        F.coalesce(F.min("ip"), F.lit(0)).alias("join_size_est")
    )
    if not with_exact:
        return est
    fa = df_a.groupBy(F.col(item_col).alias("v")).agg(
        F.count(F.lit(1)).alias("na")
    )
    fb = df_b.groupBy(F.col(item_col).alias("v")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    exact = fa.join(fb, "v").agg(
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias(
            "exact_join_size"
        )
    )
    return est.crossJoin(exact).select(
        "join_size_est",
        "exact_join_size",
        (F.col("join_size_est") - F.col("exact_join_size")).alias(
            "overestimate"
        ),
    )


def sql_cm_join_size_estimate(
    table: str,
    item_expr: str,
    where_a: str,
    where_b: str,
    depth: int = 4,
    width: int = 1024,
    with_exact: bool = False,
) -> str:
    """DuckDB replay of ``cm_join_size_estimate`` (same md5-halves hash
    family, same counter fold, same min-of-inner-products)."""

    def side(name: str, where: str) -> str:
        return f"""
    {name}_h AS (
        SELECT CAST(('0x' || substr(md5(CAST({item_expr} AS VARCHAR)), 1, 8))
                   AS UBIGINT) AS h1,
               CAST(('0x' || substr(md5(CAST({item_expr} AS VARCHAR)), 9, 8))
                   AS UBIGINT) AS h2
        FROM {table} WHERE {where}
    ), {name}_cnt AS (
        SELECT i AS row_i, (h1 + i * h2) % {width} AS pos, count(*) AS c
        FROM {name}_h, unnest(generate_series(0, {depth - 1})) AS g(i)
        GROUP BY 1, 2
    )"""

    exact_sel = ""
    exact_cte = ""
    if with_exact:
        exact_cte = f""",
    ex AS (
        SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT)
            AS exact_join_size FROM (
            SELECT {item_expr} AS v, count(*) AS na FROM {table}
            WHERE {where_a} GROUP BY 1
        ) a JOIN (
            SELECT {item_expr} AS v, count(*) AS nb FROM {table}
            WHERE {where_b} GROUP BY 1
        ) b USING (v)
    )"""
        exact_sel = (
            ", ex.exact_join_size, "
            "CAST(e.join_size_est - ex.exact_join_size AS BIGINT) "
            "AS overestimate"
        )
    return f"""
    WITH {side("a", where_a)}, {side("b", where_b)},
    ip AS (
        SELECT a_cnt.row_i,
            CAST(sum(a_cnt.c * coalesce(b_cnt.c, 0)) AS BIGINT) AS ip
        FROM a_cnt LEFT JOIN b_cnt USING (row_i, pos)
        GROUP BY a_cnt.row_i
    ),
    e AS (SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS join_size_est
          FROM ip){exact_cte}
    SELECT e.join_size_est{exact_sel}
    FROM e{", ex" if with_exact else ""}
    """


def heavy_hitters_exact(
    df: DataFrame,
    item_expr,
    phi: float = 0.001,
    k_counters: int | None = None,
) -> DataFrame:
    """φ-heavy hitters with EXACT counts: every item whose frequency
    exceeds ``phi`` of the stream, found via per-partition Misra-Gries
    candidate sketches and verified with one exact aggregate restricted
    to the candidate set.

    Guarantee (the mergeable-summaries bound, Agarwal et al., PODS'12):
    per-partition MG with k counters under-counts any item by at most
    n_p/(k+1); summed across partitions the total error is ≤ n/(k+1),
    so with k = ceil(1/φ) every TRUE φ-heavy item survives in at least
    one partition's sketch — the candidate union is a guaranteed
    superset, and the exact verify pass makes the output exact (no
    false positives either). Returns (item, cnt, share) for
    cnt > φ·n, share rounded 6dp.

    NULL items are filtered on BOTH engines (r10 review: the semi-join
    is null-unsafe and numeric NULLs become fresh NaN dict keys in the
    sketch — the oracle mirrors the filter, so NULL is simply not a
    rankable item). Float item columns additionally drop NaN (pandas
    value_counts silently excludes NaN, which would void the superset
    guarantee while both engines' n_total still counted it — the SQL
    mirror must pass ``float_items=True`` to apply the same filter).
    ``k_counters`` below ceil(1/φ) would void the superset guarantee,
    so it is clamped up, never trusted.

    Scale shape: the (persisted) item frame is scanned by the MG pass
    — vectorized per Arrow batch: value_counts, merge, reduce to k by
    subtracting the (k+1)-th largest (the Agarwal et al. MERGE step,
    same bound, no per-row Python) — producing ≤k rows PER PARTITION
    with no raw-stream shuffle; the verify aggregate shuffles only
    rows matching candidates (broadcast semi-join); the 1-row total
    reads the same persisted frame. The oracle replays the exact
    definition (HAVING count > φ·total) — the sketch changes the
    PLAN, never the answer.
    """
    import math

    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    k = max(
        1, math.ceil(1.0 / phi), k_counters if k_counters else 1
    )
    col = (
        F.col(item_expr) if isinstance(item_expr, str) else item_expr
    )
    items = df.select(col.alias("item")).filter(
        F.col("item").isNotNull()
    )
    if items.schema["item"].dataType.typeName() in ("double", "float"):
        items = items.filter(~F.isnan("item"))
    items = pooled_persist(items)

    def mg(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for it, c in pdf["item"].value_counts().items():
                counters[it] = counters.get(it, 0) + int(c)
            if len(counters) > k:
                # mergeable-summaries reduce: subtract the (k+1)-th
                # largest count from all, drop non-positive — each
                # reduce removes >= (k+1)*sub occurrences, so total
                # subtraction per partition is <= n_p/(k+1)
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {
                    i: c - sub for i, c in counters.items() if c > sub
                }
        yield pd.DataFrame({"item": list(counters.keys())})

    cands = items.mapInPandas(mg, schema=items.schema).distinct()
    total = items.agg(F.count(F.lit(1)).alias("n_total"))
    exact = (
        items.join(F.broadcast(cands), ["item"], "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(
            F.col("cnt").cast("double")
            > F.lit(float(phi)) * F.col("n_total").cast("double")
        )
        .select(
            "item",
            "cnt",
            F.round(
                F.col("cnt").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
    )


def sql_heavy_hitters_exact(
    table: str,
    item_expr: str,
    phi: float = 0.001,
    where: str = "1=1",
    float_items: bool = False,
) -> str:
    """DuckDB replay of ``heavy_hitters_exact`` — the exact definition
    (the MG sketch only prunes the Spark plan; the answer is the
    HAVING-threshold query). Pass ``float_items=True`` when the item
    expression is DOUBLE/FLOAT so NaN is filtered like the engine
    does."""
    nan_filter = " AND NOT isnan(item)" if float_items else ""
    return f"""
    WITH it0 AS (
        SELECT {item_expr} AS item FROM {table} WHERE {where}
    ), it AS (
        SELECT item FROM it0 WHERE item IS NOT NULL{nan_filter}
    ), tot AS (SELECT count(*) AS n_total FROM it)
    SELECT item, count(*) AS cnt,
        round(CAST(count(*) AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
            AS share
    FROM it, tot t
    GROUP BY item, t.n_total
    HAVING CAST(count(*) AS DOUBLE)
           > CAST({phi!r} AS DOUBLE) * CAST(t.n_total AS DOUBLE)
    """


def exact_nearest_rank(q) -> tuple[int, int]:
    """The family's ONE definition of the exact nearest-rank fraction
    (r11 second review — previously four hand-kept copies): parse the
    quantile's decimal literal to an exact Fraction and return
    (numerator, denominator) so rank = (num * n + den - 1) DIV den in
    pure BIGINT arithmetic on both engines (float ceil(q*n) overshoots
    by one ulp at e.g. 0.07*100).

    Guard rails: the denominator is capped at 10^6 — a quantile like
    1/3 has a 16-digit numerator whose num*n product would overflow
    BIGINT at ~2,800 rows (ANSI Spark and DuckDB both throw); callers
    must pass decimal-representable quantiles (0.25, 0.999, ...). With
    den <= 10^6 the product stays in-range up to n ~ 9.2e12 rows."""
    from fractions import Fraction

    frac = Fraction(str(float(q)))
    if frac.denominator > 10**6:
        raise ValueError(
            f"quantile {q!r} is not a short decimal (denominator "
            f"{frac.denominator}); use a decimal-representable q "
            "so the exact-rank BIGINT arithmetic cannot overflow"
        )
    return frac.numerator, frac.denominator


def binned_quantiles(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable equi-width-histogram quantile sketch — the family's
    answer to "what is p99 of a 100 TB column without a global sort":
    bin counts are COMBINABLE (they add across partitions, days, and
    merge-on-read shards exactly like the KMV/count-min partials in
    this module), and any quantile then reads off the cumulative
    histogram with error bounded by ONE BIN WIDTH ``(hi-lo)/n_bins``
    — deterministic, engine-reproducible, no sampling randomness
    (unlike t-digest/GK, whose compaction order makes cross-engine
    hash-parity impossible; exactness-first is this repo's standing
    rule, cf. percentile_approx being avoided in length_quantiles).

    ``[lo, hi)`` is the caller's declared domain (same contract as
    profile.psi_drift's shared binning); values outside clamp into the
    edge bins so the estimate degrades, never errors. NULLs are
    excluded. The estimate convention is the bin's UPPER edge of the
    first bin where the running count reaches ``ceil(q * n)`` —
    nearest-rank semantics at histogram resolution.

    Plan shape: one combinable groupBy(bin) fold (<= n_bins rows out
    of the map side), a single-partition cumulative window over the
    <= n_bins rows (bounded by the PARAMETER, not the data — the same
    bounded-window argument as countmin_estimate_topk), and a bins x
    qs join. Returns (q, estimate) rounded 6dp, one row per quantile.
    """
    if hi <= lo:
        raise ValueError("binned_quantiles needs hi > lo")
    width = (hi - lo) / n_bins
    v = F.col(value_col)
    bin_id = F.least(
        F.greatest(
            F.floor((v - lo) / F.lit(width)).cast("long"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    counts = (
        df.filter(v.isNotNull())
        .select(bin_id.alias("_bin"))
        .groupBy("_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.select(
        "_bin",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(Window.partitionBy()).alias("_n"),
    )
    spark = df.sparkSession
    # INTEGER-EXACT nearest rank: see exact_nearest_rank (the shared
    # definition; float ceil(q*n) overshoots by one ulp at 0.07*100)
    q_df = spark.createDataFrame(
        [
            (float(q), *exact_nearest_rank(q))
            for q in qs
        ],
        "q double, _qn long, _qd long",
    )
    rank = F.expr("(_qn * _n + _qd - 1) DIV _qd")
    hits = cum.join(F.broadcast(q_df), F.col("_cum") >= rank)
    return (
        hits.groupBy("q")
        .agg(F.min("_bin").alias("_b"))
        .select(
            "q",
            F.round(F.lit(lo) + (F.col("_b") + 1) * F.lit(width), 6).alias(
                "estimate"
            ),
        )
    )


def sql_binned_quantiles(
    table: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    qs: tuple = (0.5, 0.9, 0.99),
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``binned_quantiles`` (same clamped equi-width
    binning, same ceil(q*n) nearest-rank-at-resolution convention)."""
    width = (hi - lo) / n_bins
    q_rows = ", ".join(
        "({!r}, {}, {})".format(float(q), *exact_nearest_rank(q))
        for q in qs
    )
    return f"""
    WITH counts AS (
        SELECT least(greatest(
                   CAST(floor(({value_col} - CAST({lo!r} AS DOUBLE))
                        / CAST({width!r} AS DOUBLE)) AS BIGINT),
                   0), {n_bins - 1}) AS _bin,
               count(*) AS _c
        FROM {table}
        WHERE ({where}) AND {value_col} IS NOT NULL
        GROUP BY 1
    ),
    cum AS (
        SELECT _bin,
            sum(_c) OVER (ORDER BY _bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
            sum(_c) OVER () AS _n
        FROM counts
    ),
    quants AS (SELECT CAST(q AS DOUBLE) AS q, _qn, _qd
               FROM (VALUES {q_rows}) v(q, _qn, _qd))
    SELECT q, round(CAST({lo!r} AS DOUBLE)
        + (min(_bin) + 1) * CAST({width!r} AS DOUBLE), 6) AS estimate
    FROM cum JOIN quants ON _cum >= (_qn * _n + _qd - 1) // _qd
    GROUP BY q
    """


# ---------------------------------------------------------------------------
# r13 (verdict #4): value gate for the HLL rollup — estimate vs exact
# ---------------------------------------------------------------------------


def distinct_users_gate(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lg_config_k: int = LG_CONFIG_K,
) -> DataFrame:
    """The HLL binary is DataSketches-private, but the ESTIMATE is
    checkable: per rollup period, emit the EXACT distinct count (which
    a DuckDB oracle reproduces verbatim) plus a boolean asserting the
    sketch estimate lies within 3x the published relative standard
    error for the configured lgK (RSE ~= 1.04 / sqrt(2^lgK); lgK=12 ->
    3sigma ~= 4.88%).  The oracle emits the same exact counts with a
    constant TRUE, so a hash match value-gates BOTH the exact spine and
    the estimate's error envelope — graduating the registry entry from
    rows-only (verdict r13 #4).

    Plan: the sketch path is the production rollup unchanged (one
    fact pass to daily sketches, unions upward); the exact path is a
    second fact pass the GATE pays, not the operator (at 100 TB you
    would never run it — it exists to referee the sketch)."""
    est = distinct_users_rollup(events, user_col, ts_col, lg_config_k)
    dated = events.select(
        F.to_date(ts_col).alias("day"), F.col(user_col).alias("u")
    )
    weekly = dated.groupBy(
        F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd").alias(
            "period"
        )
    ).agg(F.count_distinct("u").alias("exact_users"))
    total = dated.agg(
        F.lit("total").alias("period"),
        F.count_distinct("u").alias("exact_users"),
    )
    exact = weekly.unionByName(total)
    bound = 3.0 * 1.04 / float(2 ** (lg_config_k / 2.0))
    ok = (
        (F.col("exact_users") == 0) & (F.col("est_users") == 0.0)
    ) | (
        F.abs(
            F.try_divide(F.col("est_users"), F.col("exact_users")) - 1.0
        )
        <= bound
    )
    return (
        est.join(exact, est["period"].eqNullSafe(exact["period"]))
        .select(
            est["period"].alias("period"),
            "n_events",
            "exact_users",
            F.coalesce(ok, F.lit(False)).alias("est_within_3rse"),
        )
    )


def sql_distinct_users_gate(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB replay of the EXACT spine of :func:`distinct_users_gate`
    (same week truncation, same NULL-day group) with the error-envelope
    verdict as a constant TRUE — the estimate has no cross-engine
    replay, so the oracle asserts the envelope by equality."""
    return f"""
    WITH dated AS (
        SELECT CAST({ts_col} AS DATE) AS day, {user_col} AS u
        FROM {table}
    ), wk AS (
        SELECT strftime(date_trunc('week', day), '%Y-%m-%d') AS period,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(count(DISTINCT u) AS BIGINT) AS exact_users
        FROM dated GROUP BY 1
    ), tot AS (
        SELECT 'total' AS period, CAST(count(*) AS BIGINT) AS n_events,
            CAST(count(DISTINCT u) AS BIGINT) AS exact_users
        FROM dated
    )
    SELECT period, n_events, exact_users, TRUE AS est_within_3rse
    FROM (SELECT * FROM wk UNION ALL SELECT * FROM tot)
    """
