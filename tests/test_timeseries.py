"""Time-series operators: rolling distinct, sweep-line concurrency, EWMA,
vocabulary growth, bloom-ledger prefilter — hand-computable fixtures with
boundary cases (window edges, midnight-spanning sessions, single-event
series, false-positive accounting)."""

from __future__ import annotations

import hashlib
from datetime import datetime

from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.dedup import bloom_prefilter_dedup
from asctb_ct_label_mapper_spark.operators.textstats import vocab_growth
from asctb_ct_label_mapper_spark.operators.timeseries import (
    daily_max_concurrency,
    ewma_by_key,
    ewma_by_key_fold,
    rolling_distinct_count,
    session_intervals,
)


def d(day: int, hour: int = 0, minute: int = 0, second: int = 0):
    return datetime(2024, 1, day, hour, minute, second)


EV_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def test_rolling_distinct_window_edges(spark):
    # u1 active day 1 only; u2 active days 1 and 9; u3 day 8.
    df = spark.createDataFrame(
        [(1, d(1), 1, 0.0), (2, d(1), 2, 0.0), (3, d(9), 2, 0.0),
         (4, d(8), 3, 0.0)],
        EV_SCHEMA,
    )
    got = {r["day"]: r["n_active"]
           for r in rolling_distinct_count(df, window_days=7).collect()}
    # report days = observed days only (1, 8, 9)
    assert set(got) == {"2024-01-01", "2024-01-08", "2024-01-09"}
    assert got["2024-01-01"] == 2          # u1, u2
    # day 8: window [2..8] -> only u3 (day-1 activity aged out at day 8)
    assert got["2024-01-08"] == 1
    # day 9: window [3..9] -> u2 (reactivated), u3
    assert got["2024-01-09"] == 2


def test_rolling_distinct_same_user_many_days_counts_once(spark):
    df = spark.createDataFrame(
        [(i, d(1 + i), 7, 0.0) for i in range(5)], EV_SCHEMA
    )
    got = {r["day"]: r["n_active"]
           for r in rolling_distinct_count(df, window_days=7).collect()}
    assert set(got.values()) == {1}


def test_session_intervals_gap_split(spark):
    df = spark.createDataFrame(
        [(1, d(1, 10, 0), 1, 0.0), (2, d(1, 10, 20), 1, 0.0),
         (3, d(1, 11, 0), 1, 0.0)],  # 40-min gap -> new session
        EV_SCHEMA,
    )
    sess = session_intervals(df, gap_minutes=30).collect()
    assert len(sess) == 2
    spans = sorted((r["session_start"], r["session_end"]) for r in sess)
    assert spans[0] == (d(1, 10, 0), d(1, 10, 20))
    assert spans[1] == (d(1, 11, 0), d(1, 11, 0))  # single-event session


def test_concurrency_overlap_and_carry_across_midnight(spark):
    # Three users: A 23:50-00:10 (crosses midnight), B 23:55-23:58,
    # C next day 00:05-00:08 -> day-1 peak 2 (A+B), day-2 peak 2 (A+C
    # via the carry: A's session is still open at day-2 start).
    rows = [
        (1, d(1, 23, 50), 1, 0.0), (2, d(2, 0, 10), 1, 0.0),
        (3, d(1, 23, 55), 2, 0.0), (4, d(1, 23, 58), 2, 0.0),
        (5, d(2, 0, 5), 3, 0.0), (6, d(2, 0, 8), 3, 0.0),
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    got = {r["day"]: r["max_concurrent"]
           for r in daily_max_concurrency(df).collect()}
    assert got["2024-01-01"] == 2
    assert got["2024-01-02"] == 2


def test_concurrency_instantaneous_handoff_not_double_counted(spark):
    # u1's session ends exactly when u2's begins (one microsecond apart
    # after end-exclusive shift): peak stays 1... but an exact-same-start
    # pair counts 2. Deltas are per-timestamp pre-summed.
    df = spark.createDataFrame(
        [(1, d(1, 10, 0), 1, 0.0), (2, d(1, 12, 0), 2, 0.0),
         (3, d(1, 12, 0), 3, 0.0)],
        EV_SCHEMA,
    )
    got = {r["day"]: r["max_concurrent"]
           for r in daily_max_concurrency(df).collect()}
    assert got["2024-01-01"] == 2  # the 12:00 pair overlaps; u1 long gone


def test_ewma_fold_order_and_single_element(spark):
    df = spark.createDataFrame(
        [(1, d(1, 10), 1, 10.0), (2, d(1, 11), 1, 20.0),
         (3, d(1, 12), 1, 40.0), (9, d(5), 2, 7.5)],
        EV_SCHEMA,
    )
    got = {r["key"]: r for r in ewma_by_key(df).collect()}
    # s1=10, s2=.5*20+.5*10=15, s3=.5*40+.5*15=27.5 (exact dyadics)
    assert got[1]["ewma"] == 27.5 and got[1]["n_obs"] == 3
    assert got[2]["ewma"] == 7.5 and got[2]["n_obs"] == 1  # seed only


def test_ewma_ties_broken_by_event_id(spark):
    ts0 = d(1, 10)
    df = spark.createDataFrame(
        [(2, ts0, 1, 100.0), (1, ts0, 1, 0.0)], EV_SCHEMA
    )
    [r] = ewma_by_key(df).collect()
    # order is (ts, event_id): 0.0 first, then 100.0 -> 50.0
    assert r["ewma"] == 50.0


def test_vocab_growth_first_seen_attribution(spark):
    # shard 0: "a b" -> bigram {a b}; shard 1: "a b c" -> {a b, b c}
    # (a b already seen); 1-token and empty docs contribute nothing.
    df = spark.createDataFrame(
        [(0, "a b"), (1, "a b c"), (10, "a"), (11, "")],
        "doc_id long, text string",
    )
    rows = {r["shard"]: r for r in vocab_growth(df, n=2, n_shards=10).collect()}
    assert rows[0]["new_grams"] == 1 and rows[0]["vocab_size"] == 1
    assert rows[1]["new_grams"] == 1 and rows[1]["vocab_size"] == 2
    assert rows[1]["corpus_grams"] == 3  # 1 + 2 instances
    assert 10 not in rows and 11 not in rows  # short docs emit no rows


def test_vocab_growth_cumulative_monotone_on_real_data(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = sorted(
        vocab_growth(docs, n=2, n_shards=10).collect(),
        key=lambda r: r["shard"],
    )
    vs = [r["vocab_size"] for r in rows]
    cg = [r["corpus_grams"] for r in rows]
    assert vs == sorted(vs) and cg == sorted(cg)
    assert vs[-1] == sum(r["new_grams"] for r in rows)


def test_bloom_prefilter_classes_and_no_false_negatives(spark):
    corpus = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(40)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        # 5 true dups + 35 new texts
        [(100 + i, f"doc number {i}") for i in range(5)]
        + [(200 + i, f"fresh text {i}") for i in range(35)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bloom_prefilter_dedup(corpus, batch).collect()}
    assert len(out) == 40
    # bloom has NO false negatives: every true dup is maybe=1 and dup=1
    for i in range(5):
        r = out[100 + i]
        assert r["bloom_maybe"] == 1 and r["is_dup"] == 1
    # new texts are never marked dup; maybe=1 without dup is a recorded FP
    for i in range(35):
        r = out[200 + i]
        assert r["is_dup"] == 0
        if r["bloom_maybe"] == 0:
            assert r["is_dup"] == 0


def test_bloom_positions_match_python_md5(spark):
    from asctb_ct_label_mapper_spark.operators.dedup import bloom_positions

    df = spark.createDataFrame([("hello world",)], "text string")
    [row] = df.select(bloom_positions(F.col("text"), k=4).alias("p")).collect()
    h = hashlib.md5(b"hello world").hexdigest()
    h1, h2 = int(h[:8], 16), int(h[8:16], 16)
    assert row["p"] == [(h1 + i * h2) % (1 << 16) for i in range(4)]


def test_gap_ranges_cross_bucket_boundary(spark):
    # ids 998..1002 with 999..1001 missing: the gap spans the div-1000
    # bucket boundary and must come from the summary branch, exactly once
    from asctb_ct_label_mapper_spark.operators.timeseries import id_gap_ranges

    df = spark.createDataFrame(
        [(998,), (1002,), (1003,), (1007,)], "event_id long"
    )
    got = sorted(
        (r["gap_start"], r["gap_end"], r["n_missing"])
        for r in id_gap_ranges(df, "event_id", bucket_size=1000).collect()
    )
    assert got == [(999, 1001, 3), (1004, 1006, 3)]


def test_gap_ranges_dense_sequence_is_empty(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import id_gap_ranges

    df = spark.createDataFrame([(i,) for i in range(100)], "event_id long")
    assert id_gap_ranges(df, "event_id", bucket_size=10).count() == 0


def test_ewma_fold_anchor_matches_fixtures(spark):
    df = spark.createDataFrame(
        [(1, d(1, 10), 1, 10.0), (2, d(1, 11), 1, 20.0),
         (3, d(1, 12), 1, 40.0), (9, d(5), 2, 7.5)],
        EV_SCHEMA,
    )
    got = {r["key"]: r for r in ewma_by_key_fold(df).collect()}
    assert got[1]["ewma"] == 27.5 and got[1]["n_obs"] == 3
    assert got[2]["ewma"] == 7.5 and got[2]["n_obs"] == 1


def test_ewma_segmented_multi_bucket_exact_dyadics(spark):
    """Series spanning three month buckets (Jan/Feb/Mar): the carry
    composition crosses bucket boundaries and, on exact dyadics, still
    equals the hand-computed recurrence bit-for-bit."""
    rows = [
        (1, datetime(2024, 1, 5), 1, 8.0),    # s=8
        (2, datetime(2024, 1, 20), 1, 16.0),  # s=12
        (3, datetime(2024, 2, 10), 1, 4.0),   # s=8
        (4, datetime(2024, 3, 1), 1, 24.0),   # s=16
        (5, datetime(2024, 3, 2), 1, 0.0),    # s=8
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    [r] = ewma_by_key(df).collect()
    assert r["ewma"] == 8.0 and r["n_obs"] == 5
    [rf] = ewma_by_key_fold(df).collect()
    assert rf["ewma"] == 8.0


def _holt_seq(xs, a=0.5, b=0.25):
    lvl, tr = xs[0], 0.0
    for x in xs[1:]:
        new_l = a * x + (1 - a) * (lvl + tr)
        tr = b * (new_l - lvl) + (1 - b) * tr
        lvl = new_l
    return lvl, tr


def test_holt_matches_sequential_recurrence_multi_bucket(spark):
    """Level/trend from the matrix segmented scan equal the hand-rolled
    sequential Holt recurrence exactly on dyadic inputs, across three
    month buckets."""
    from asctb_ct_label_mapper_spark.operators.timeseries import holt_by_key

    xs = [10.0, 20.0, 15.0, 30.0, 25.0, 12.5]
    rows = [
        (i, datetime(2024, 1 + i // 2, 1 + i), 1, x) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    [r] = holt_by_key(df).collect()
    lvl, tr = _holt_seq(xs)
    assert r["n_obs"] == 6
    assert r["level"] == lvl and r["trend"] == tr
    assert r["forecast"] == lvl + 3.0 * tr


def test_holt_single_element_is_seed(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import holt_by_key

    df = spark.createDataFrame([(1, d(5), 2, 7.5)], EV_SCHEMA)
    [r] = holt_by_key(df).collect()
    assert (r["level"], r["trend"], r["forecast"]) == (7.5, 0.0, 7.5)


def _hw_seq(xs, a=0.5, b=0.25, g=0.25, p=4):
    lvl, tr = xs[0], 0.0
    s = [0.0] * p  # s[0] newest
    for x in xs[1:]:
        s_old = s[p - 1]
        new_l = a * (x - s_old) + (1 - a) * (lvl + tr)
        tr = b * (new_l - lvl) + (1 - b) * tr
        s = [g * (x - new_l) + (1 - g) * s_old] + s[: p - 1]
        lvl = new_l
    return lvl, tr, s[p - 1]


def test_holt_winters_matches_sequential_multi_bucket(spark):
    """The (p+2)-dim matrix scan equals the hand-rolled sequential
    Holt-Winters recurrence to float precision, across month buckets,
    and degenerates to the seed on a single element."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    xs = [10.0, 20.0, 15.0, 30.0, 25.0, 12.5, 18.0, 22.0, 9.0]
    rows = [
        (i, datetime(2024, 1 + i // 3, 1 + i * 2), 1, x)
        for i, x in enumerate(xs)
    ] + [(99, d(5), 2, 7.5)]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    got = {r["key"]: r for r in holt_winters_by_key(df).collect()}
    lvl, tr, s_next = _hw_seq(xs)
    r = got[1]
    assert r["n_obs"] == 9
    for a, b in ((r["level"], lvl), (r["trend"], tr), (r["season_next"], s_next)):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(b))
    assert got[2]["level"] == 7.5 and got[2]["trend"] == 0.0
    assert got[2]["season_next"] == 0.0 and got[2]["forecast_1"] == 7.5


def test_holt_winters_arrow_equals_hof(spark):
    """The fused-Arrow path is BIT-IDENTICAL to the HOF parity anchor —
    raw IEEE doubles, no tolerance — on a multi-key, multi-bucket
    fixture with negative values (signed-zero products exist: the
    absorbing map multiplies by literal 0.0) and per-chain lengths from
    1 to 9."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    rows = []
    eid = 0
    for key, n in ((1, 9), (2, 1), (3, 4), (4, 7)):
        for i in range(n):
            eid += 1
            rows.append(
                (eid, datetime(2024, 1 + (i % 3), 1 + i), key,
                 (-1.0) ** i * (3.7 + 1.3 * i + 10.0 * key))
            )
    df = spark.createDataFrame(rows, EV_SCHEMA)
    ref = {r["key"]: r for r in holt_winters_by_key(df, impl="hof").collect()}
    got = {r["key"]: r for r in holt_winters_by_key(df, impl="arrow").collect()}
    assert set(got) == set(ref)
    for k in ref:
        for f in ("n_obs", "level", "trend", "season_next", "forecast_1"):
            assert got[k][f] == ref[k][f], (k, f)


def test_holt_winters_arrow_null_key_parity(spark):
    """A NULL key is ONE group (ADVICE r9): numpy NaN != NaN would make
    every NULL-key row its own singleton chain in the arrow fold,
    emitting multiple NULL-key rows — impl='hof' and the oracle treat
    NULL as a single group. The factorize-based boundary must keep the
    arrow path bit-identical to hof on a fixture with 6 NULL-key rows
    spanning 3 buckets plus two ordinary keys."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    rows = []
    eid = 0
    for key, n in ((1, 5), (None, 6), (2, 3)):
        for i in range(n):
            eid += 1
            rows.append(
                (eid, datetime(2024, 1 + (i % 3), 1 + i), key,
                 (-1.0) ** i * (2.1 + 0.9 * i + 10.0 * (key or 7)))
            )
    df = spark.createDataFrame(rows, EV_SCHEMA)
    ref = {r["key"]: r for r in holt_winters_by_key(df, impl="hof").collect()}
    assert None in ref and len(ref) == 3
    rows_got = holt_winters_by_key(df, impl="arrow").collect()
    assert len(rows_got) == 3, rows_got  # ONE null-key row
    got = {r["key"]: r for r in rows_got}
    assert set(got) == set(ref)
    for k in ref:
        for f in ("n_obs", "level", "trend", "season_next", "forecast_1"):
            assert got[k][f] == ref[k][f], (k, f)


def _hw_classical_seq(xs, a=0.5, b=0.25, g=0.25, p=4):
    lvl = sum(xs[:p]) / p
    tr = (xs[p - 1] - xs[0]) / (p - 1)
    s = [xs[p - 1 - i] - lvl for i in range(p)]  # s[0] newest
    for x in xs[p:]:
        s_old = s[p - 1]
        new_l = a * (x - s_old) + (1 - a) * (lvl + tr)
        tr = b * (new_l - lvl) + (1 - b) * tr
        s = [g * (x - new_l) + (1 - g) * s_old] + s[: p - 1]
        lvl = new_l
    return lvl, tr, s[p - 1]


def test_holt_winters_classical_priming(spark):
    """seed='classical' matches the hand-rolled textbook recurrence
    (l0 = mean of first p, b0 = (x_p-x_1)/(p-1), s_i = x_i - l0) across
    month buckets and MULTIPLE keys in one shard (the lane-order seed
    lookup regression), degenerates to the bare seed at n == p, and
    returns NULL smoothed fields (real n_obs) below p observations."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    xs1 = [10.0, 20.0, 15.0, 30.0, 25.0, 12.5, 18.0, 22.0, 9.0]
    xs2 = [5.0, -7.0, 11.0, 3.0, 8.0, -2.0]
    rows = (
        [(i, datetime(2024, 1 + i // 3, 1 + i * 2), 1, x)
         for i, x in enumerate(xs1)]
        + [(100 + i, datetime(2024, 1 + i // 2, 2 + i), 2, x)
           for i, x in enumerate(xs2)]
        + [(200 + i, datetime(2024, 2, 1 + i), 3, float(i))
           for i in range(4)]      # exactly p -> bare seed
        + [(300 + i, datetime(2024, 3, 1 + i), 4, 1.0 + i)
           for i in range(3)]      # below p -> NULL
    )
    df = spark.createDataFrame(rows, EV_SCHEMA)
    got = {
        r["key"]: r
        for r in holt_winters_by_key(df, seed="classical").collect()
    }
    for key, xs in ((1, xs1), (2, xs2)):
        lvl, tr, s_next = _hw_classical_seq(xs)
        r = got[key]
        assert r["n_obs"] == len(xs)
        for have, want in (
            (r["level"], lvl), (r["trend"], tr), (r["season_next"], s_next)
        ):
            assert abs(have - want) <= 1e-9 * max(1.0, abs(want)), key
    r3 = got[3]  # seed state: l0=1.5, b0=(3-0)/3=1, s_oldest=x1-l0=-1.5
    assert r3["level"] == 1.5 and r3["trend"] == 1.0
    assert r3["season_next"] == -1.5
    r4 = got[4]
    assert r4["n_obs"] == 3
    assert r4["level"] is None and r4["trend"] is None
    assert r4["season_next"] is None and r4["forecast_1"] is None


def test_holt_winters_classical_requires_arrow_impl(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    df = spark.createDataFrame([(1, d(5), 2, 7.5)], EV_SCHEMA)
    try:
        holt_winters_by_key(df, seed="classical", impl="hof")
    except ValueError as e:
        assert "classical" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_holt_winters_bad_impl_raises(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    df = spark.createDataFrame([(1, d(5), 2, 7.5)], EV_SCHEMA)
    try:
        holt_winters_by_key(df, impl="nope")
    except ValueError as e:
        assert "nope" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_holt_winters_learns_pure_seasonal_pattern(spark):
    """On a strictly periodic signal the seasonal slots absorb the
    pattern: the 1-step forecast moves toward the value the period
    repeats (sanity of slot shifting + indices)."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    pattern = [0.0, 10.0, 0.0, 10.0] * 8  # period-4 signal (reads as 2)
    rows = [
        (i, datetime(2024, 1, 1 + i // 24, i % 24), 1, x)
        for i, x in enumerate(pattern)
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    [r] = holt_winters_by_key(df, period=4).collect()
    nxt = _hw_seq(pattern)
    assert abs(r["forecast_1"] - (r["level"] + r["trend"] + nxt[2])) < 1e-9


def test_cusum_matches_sequential_recurrence(spark):
    """The max-plus segmented scan equals the hand-rolled CUSUM exactly
    (max/+ are exact), across month buckets; all-below-drift series stay
    at zero; alarm fires on the running max, not the final state."""
    from asctb_ct_label_mapper_spark.operators.timeseries import cusum_by_key

    xs1 = [10.0, 2.0, 9.0, 8.0, 1.0, 7.5, 9.5]  # drift 5: excursions
    xs2 = [1.0, 2.0, 3.0]                       # always below drift
    rows = [
        (i, datetime(2024, 1 + i // 3, 1 + i), 1, x)
        for i, x in enumerate(xs1)
    ] + [(100 + i, d(2 + i), 2, x) for i, x in enumerate(xs2)]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    got = {r["key"]: r for r in
           cusum_by_key(df, drift=5.0, threshold=8.0).collect()}

    def ref(xs, k):
        s = m = 0.0
        for x in xs:
            s = max(0.0, s + (x - k))
            m = max(m, s)
        return s, m

    s1, m1 = ref(xs1, 5.0)
    assert got[1]["cusum_final"] == s1 and got[1]["cusum_max"] == m1
    assert got[1]["alarm"] == (m1 > 8.0)
    assert got[2]["cusum_final"] == 0.0 and got[2]["cusum_max"] == 0.0
    assert got[2]["alarm"] is False


def test_time_weighted_avg_locf(spark):
    """TWA weights each value by its holding duration; the last point
    contributes none; single-event keys yield NULL."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rows = [
        (1, d(1, 0), 1, 10.0),   # holds 1h
        (2, d(1, 1), 1, 20.0),   # holds 3h
        (3, d(1, 4), 1, 99.0),   # last: no duration
        (4, d(2), 2, 5.0),       # singleton
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    got = {r["key"]: r for r in time_weighted_avg(df).collect()}
    assert got[1]["twa"] == round((10.0 * 1 + 20.0 * 3) / 4, 6)
    assert got[1]["n_obs"] == 3
    assert got[2]["twa"] is None and got[2]["n_obs"] == 1


def test_m4_downsample_roles(spark):
    """Each bucket emits exactly first/last/vmin/vmax with deterministic
    tie-breaks; output is 4 x occupied buckets."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        m4_downsample,
    )

    rows = [
        (1, d(1, 0), 1, 5.0), (2, d(1, 1), 1, 50.0), (3, d(1, 2), 1, 1.0),
        (4, d(1, 3), 1, 9.0),
        (5, d(9, 0), 1, 7.0),
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = m4_downsample(df, n_buckets=2).collect()
    assert len(out) == 8
    b0 = {r["role"]: r for r in out if r["bucket"] == 0}
    assert b0["first"]["v"] == 5.0 and b0["last"]["v"] == 9.0
    assert b0["vmin"]["v"] == 1.0 and b0["vmax"]["v"] == 50.0
    b1 = {r["role"]: r for r in out if r["bucket"] == 1}
    assert all(b1[role]["v"] == 7.0 for role in ("first", "last", "vmin", "vmax"))


def test_time_weighted_avg_zero_duration_key_is_null(spark):
    """All events at ONE timestamp: sum(dt)=0 must yield NULL, not an
    ANSI DIVIDE_BY_ZERO crash (r9 review finding)."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        time_weighted_avg,
    )

    df = spark.createDataFrame(
        [(1, d(1), 1, 10.0), (2, d(1), 1, 20.0)], EV_SCHEMA
    )
    [r] = time_weighted_avg(df).collect()
    assert r["n_obs"] == 2 and r["twa"] is None


def test_m4_downsample_ignores_null_values(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        m4_downsample,
    )

    df = spark.createDataFrame(
        [(1, d(1), 1, 5.0), (2, d(1, 1), 1, None), (3, d(1, 2), 1, 9.0)],
        EV_SCHEMA,
    )
    out = m4_downsample(df, n_buckets=1).collect()
    assert len(out) == 4
    assert all(r["v"] in (5.0, 9.0) for r in out)


def test_interval_micros_unit_correct(spark):
    """INTERVAL '10 minutes' must mean 600s buckets, not 10s — the
    .cast('long') unit-count trap (r9 review finding)."""
    from asctb_ct_label_mapper_spark.operators.rangejoin import (
        _interval_micros,
    )

    [r] = (
        spark.range(1)
        .select(
            _interval_micros("10 minutes").alias("m"),
            _interval_micros("1 hour").alias("h"),
        )
        .collect()
    )
    assert r["m"] == 600 * 1_000_000 and r["h"] == 3600 * 1_000_000


def test_seasonal_decompose_identity_and_trend(spark):
    """observed == trend + seasonal + remainder (6dp); the interior
    trend is the centered moving average; equal weekdays share one
    seasonal value."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    rows = []
    eid = 0
    counts = [5, 8, 3, 9, 6, 4, 7, 5, 8, 3, 9, 6, 4, 7]  # two weeks
    for day, n in enumerate(counts, start=1):
        for _ in range(n):
            rows.append((eid, d(day), 1, 0.0))
            eid += 1
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = {str(r["day"]): r for r in
           seasonal_decompose_daily(df, trend_window=1).collect()}
    assert len(out) == 14
    for r in out.values():
        assert abs(r["observed"] - (r["trend"] + r["seasonal"] + r["remainder"])) < 2e-6
    # interior day 5: trend = avg(counts[3..5]) = (9+6+4)/3
    assert abs(out["2024-01-05"]["trend"] - (9 + 6 + 4) / 3) < 1e-6
    # days 1 and 8 are the same weekday -> same seasonal
    assert out["2024-01-01"]["seasonal"] == out["2024-01-08"]["seasonal"]


def test_weighted_median_first_hit_rule(spark):
    """Lower weighted median: smallest value whose running weight
    reaches half the total; non-positive weights excluded."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        weighted_median_by_group,
    )

    rows = [
        ("a", 1, 1.0, 1.0), ("a", 2, 2.0, 1.0), ("a", 3, 3.0, 6.0),
        ("a", 4, 4.0, 0.0),           # zero weight: excluded
        ("b", 5, 10.0, 2.0), ("b", 6, 20.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, id long, v double, w double")
    got = {r["g"]: r for r in
           weighted_median_by_group(df, "g", "v", "w", "id").collect()}
    # a: total 8; cum at v=1 is 1, v=2 is 2, v=3 is 8 >= 4 -> median 3
    assert got["a"]["wmedian"] == 3.0 and got["a"]["total_w"] == 8.0
    # b: cum at 10 is 2 >= 2 (half of 4) -> lower median 10
    assert got["b"]["wmedian"] == 10.0


def test_seasonal_decompose_fills_zero_days(spark):
    """Gappy series: the calendar spine makes zero-event days real
    observations of 0, so the output covers the full min..max range
    and the moving average does not treat distant days as adjacent."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    rows = [(1, d(1), 1, 0.0), (2, d(1), 1, 0.0), (3, d(10), 1, 0.0)]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    out = {str(r["day"]): r for r in
           seasonal_decompose_daily(df, trend_window=1).collect()}
    assert len(out) == 10  # full spine Jan 1..10
    assert out["2024-01-05"]["observed"] == 0.0
    # day 2's centered window = (2, 0, 0)/3, not (2 and day-10's 1)
    assert abs(out["2024-01-02"]["trend"] - 2 / 3) < 1e-6


def test_weighted_median_ignores_null_values(spark):
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        weighted_median_by_group,
    )

    rows = [("a", 1, None, 10.0), ("a", 2, 1.0, 1.0), ("a", 3, 2.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double, w double")
    [r] = weighted_median_by_group(df, "g", "v", "w", "id").collect()
    assert r["total_w"] == 2.0 and r["wmedian"] == 1.0


def test_changepoint_finds_the_level_shift(spark):
    """Counts 5/day for Jan 1-5, then 50/day for Jan 6-10: the split
    lands on Jan 5 with near-zero within-segment SSE."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        changepoint_daily,
    )

    rows = []
    eid = 0
    for d in range(1, 11):
        n = 5 if d <= 5 else 50
        for _ in range(n):
            eid += 1
            rows.append((eid, f"2024-01-{d:02d} 10:00:00"))
    df = spark.createDataFrame(
        rows, "event_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = changepoint_daily(df).collect()[0]
    assert r["split_day"] == "2024-01-05"
    assert r["n_before"] == 5 and r["n_after"] == 5
    assert r["mean_before"] == 5.0 and r["mean_after"] == 50.0
    assert r["sse_split"] == 0.0 and r["sse_total"] > 0
