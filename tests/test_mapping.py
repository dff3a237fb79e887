"""Golden tests for the flagship mapping pipeline (SURVEY §3.2) against a
hand-crafted reference table with exact matches, near matches, and a
cleaned-name COLLISION (the reference's main.py:119 quirk, made
deterministic: min CT_ID wins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.functions.nlp import clean_text_expr
from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
from asctb_ct_label_mapper_spark.operators.mapping import map_labels_to_reference

REPORT_COLS = [
    "source",
    "raw_input_label",
    "cleaned_input_label",
    "match_score_1",
    "matched_asctb_id_1",
    "matched_asctb_label_1",
    "matched_asctb_text_1",
    "match_score_2",
    "matched_asctb_id_2",
    "matched_asctb_label_2",
    "matched_asctb_text_2",
]


@pytest.fixture(scope="module")
def reference(spark):
    rows = [
        # (CT_ID, CT_NAME, definition) — two 'basal cell' rows collide on
        # the cleaned name with different CT_IDs (golden-CSV collision case)
        ("CL:1000348", "basal cell", "a basal cell def"),
        ("CL:0002329", "Basal Cell!", "another basal def"),
        ("CL:0002062", "pneumocyte", "type 1 pneumocyte def"),
        ("CL:0002063", "type 2 pneumocyte", "type 2 def"),
        ("CL:0000158", "club cell", "club def"),
    ]
    df = spark.createDataFrame(rows, "CT_ID string, CT_NAME string, definition string")
    return (
        df.withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )


def _numbered_reference(spark, n=40):
    """``n`` distinct reference rows, ``CL:0000`` ("cell kind 0") onward."""
    df = spark.createDataFrame(
        [(f"CL:{i:04d}", f"cell kind {i}", f"def {i}") for i in range(n)],
        "CT_ID string, CT_NAME string, definition string",
    )
    return (
        df.withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )


@pytest.fixture(scope="module")
def report(spark, reference):
    labels = spark.createDataFrame(
        [
            ("t", "Basal cell"),     # exact after cleaning; collides -> min CT_ID
            ("t", "club cell"),      # exact, unique
            ("t", "mystery blob"),   # no exact match -> cosine ranks survive
        ],
        "source string, raw_input_label string",
    )
    out = map_labels_to_reference(labels, reference, k=2)
    return {r["raw_input_label"]: r for r in out.collect()}


def test_report_schema(report):
    assert sorted(next(iter(report.values())).asDict()) == sorted(REPORT_COLS)


def test_exact_match_overwrites_rank1(report):
    row = report["club cell"]
    assert row["match_score_1"] == 1.0
    assert row["matched_asctb_id_1"] == "CL:0000158"
    assert row["matched_asctb_label_1"] == "club cell"
    assert row["matched_asctb_text_1"] == "club def"


def test_exact_match_nulls_rank2(report):
    row = report["club cell"]
    assert row["match_score_2"] is None
    assert row["matched_asctb_id_2"] is None
    assert row["matched_asctb_label_2"] is None
    assert row["matched_asctb_text_2"] is None


def test_collision_resolves_to_min_ct_id(report):
    # 'Basal cell' cleans to 'basal cell' matching TWO reference rows;
    # deterministic engine picks CL:0002329 < CL:1000348
    row = report["Basal cell"]
    assert row["match_score_1"] == 1.0
    assert row["matched_asctb_id_1"] == "CL:0002329"


def test_inexact_label_keeps_cosine_ranks(report):
    row = report["mystery blob"]
    assert row["match_score_1"] is not None and row["match_score_1"] < 1.0
    assert row["match_score_2"] is not None
    assert row["match_score_1"] >= row["match_score_2"]
    assert row["matched_asctb_id_1"] != row["matched_asctb_id_2"]


def test_cleaned_label_column(report):
    assert report["Basal cell"]["cleaned_input_label"] == "basal cell"


def test_plural_label_exact_matches_singular_reference(spark):
    """ADVICE r4 (medium): with the full default cleaner, a plural input
    label ('basal cells') must exact-match the singular reference CT_NAME
    ('basal cell') via rstrip('s'), overwriting rank-1 with score 1.0 —
    the reference's execute_nlp_pipeline behavior the native-subset cleaner
    missed."""
    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf
    from asctb_ct_label_mapper_spark.operators.mapping import map_labels_to_reference

    labels = spark.createDataFrame(
        [("test", "Basal Cells"), ("test", "unrelated thing")],
        "source string, raw_input_label string",
    )
    reference = (
        spark.createDataFrame(
            [("CL:1", "basal cell", "def one"), ("CL:2", "tuft cell", "def two")],
            "CT_ID string, CT_NAME string, definition string",
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )
    out = {r["raw_input_label"]: r for r in map_labels_to_reference(labels, reference, k=2).collect()}
    basal = out["Basal Cells"]
    assert basal["cleaned_input_label"] == "basal cell"
    assert basal["match_score_1"] == 1.0
    assert basal["matched_asctb_id_1"] == "CL:1"
    assert basal["match_score_2"] is None  # J2 null-out on exact rows
    other = out["unrelated thing"]
    assert other["match_score_1"] != 1.0


def _stage_rdd_ids(sc, jobs):
    """RDD ids in the lineage of every stage of ``jobs`` (a stage that
    reads a cached RDD lists its id). Take the ids from ``spark_jobs``,
    which drains the listener bus: a job whose events are still queued
    can be listed while its stages are not yet written."""
    from py4j.protocol import Py4JJavaError

    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    ids = set()
    for job in jobs:
        missing = 0
        for stage in tracker.getJobInfo(job).stageIds:
            try:
                rdds = store.lastStageAttempt(stage).rddIds().mkString(",")
            except Py4JJavaError:
                missing += 1
                continue
            ids |= {int(x) for x in rdds.split(",") if x}
        # past spark.ui.retainedStages the store evicts SKIPPED stages
        # first, even this job's; a skipped stage runs nothing, so it
        # reads no cached RDD. Any other missing stage is a failure.
        assert missing <= store.job(job).numSkippedStages(), (job, missing)
    return ids


def test_reference_projection_releases_persist(spark, spark_jobs):
    """Multi-organ loop contract: the context-managed projection is the
    ONLY cache entry (map_labels_to_reference must not double-persist an
    already-persisted exact projection), routing and the report writer
    read the handle's resident state instead of running jobs on the
    projection, and exit destroys the broadcasts and releases the
    persist."""
    from asctb_ct_label_mapper_spark.operators.mapping import reference_projection
    from asctb_ct_label_mapper_spark.operators.similarity import resident_reference

    sc = spark.sparkContext

    def cached():
        return set(sc._jsc.getPersistentRDDs().keys())

    # fresh plan (distinct from any fixture's) so cache dedup can't alias
    # this test's persist with an earlier test's leftover entry
    reference = (
        spark.createDataFrame(
            [("CL:9001", "alpha cell", "def a"), ("CL:9002", "beta cell", "def b")],
            "CT_ID string, CT_NAME string, definition string",
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )
    labels = spark.createDataFrame(
        [("t", "beta cell"), ("t", "gamma thing")],
        "source string, raw_input_label string",
    )
    base = cached()
    with reference_projection(reference) as ref:
        assert ref.storageLevel.useMemory
        (proj_rdd,) = cached() - base
        state = resident_reference(ref, "CT_ID")
        assert (state.n_refs, state.dim) == (2, 16)
        assert resident_reference(ref, "CT_ID") is state  # pinned, no rebuild
        reports = []
        for strategy in ("auto", "blocked"):  # two "organs"
            report, jobs = spark_jobs(
                lambda: map_labels_to_reference(labels, ref, k=2, strategy=strategy)
            )
            built = _stage_rdd_ids(sc, jobs)
            reports.append(sorted(
                (r["raw_input_label"], r["matched_asctb_id_1"],
                 r["matched_asctb_id_2"], round(r["match_score_1"], 6))
                for r in report.collect()
            ))
            # building the report ran no job on the projection
            assert proj_rdd not in built, strategy
        assert reports[0] == reports[1]  # auto and blocked agree
        assert reports[0][0][:3] == ("beta cell", "CL:9002", None)
        assert cached() == base | {proj_rdd}
    assert not ref.storageLevel.useMemory
    assert cached() == base
    assert not state.ids._jbroadcast.isValid()
    assert not state.unit._jbroadcast.isValid()


def test_reference_projection_of_empty_reference(spark):
    """An empty reference pins (count 0, no rows to collect) and maps as
    it does without the handle: one report row per distinct label with
    every match column NULL, on every exact strategy."""
    from asctb_ct_label_mapper_spark.operators.mapping import reference_projection

    reference = spark.createDataFrame(
        [],
        "CT_ID string, CT_NAME string, definition string, all_text string, "
        "ct_name_cleaned string, embedding array<float>",
    )
    labels = spark.createDataFrame(
        [("t", "beta cell")], "source string, raw_input_label string"
    )
    bare = map_labels_to_reference(labels, reference, k=2).collect()
    assert len(bare) == 1
    row = bare[0].asDict()
    assert (row["raw_input_label"], row["cleaned_input_label"]) == ("beta cell", "beta cell")
    match_cols = [c for c in REPORT_COLS if c.startswith(("match_", "matched_"))]
    assert [row[c] for c in match_cols] == [None] * len(match_cols)
    with reference_projection(reference) as ref:
        for strategy in ("auto", "blocked"):
            got = map_labels_to_reference(labels, ref, k=2, strategy=strategy).collect()
            assert got == bare, strategy


@pytest.mark.parametrize("strategy", ["auto", "blocked"])
def test_direction_less_label_gets_null_matches(spark, reference, strategy):
    """A label whose embedding is NULL or zero-norm keeps its one report
    row with every match column NULL; the exact overwrite still applies
    to it. Labels with a direction, '' among them, keep their cosine
    ranks."""

    def encoder(col):
        zero = F.array_repeat(F.lit(0.0).cast("float"), 16)
        return F.when(col.isin("zero vec", "club cell"), zero).otherwise(
            stub_encode_udf(col)
        )

    labels = spark.createDataFrame(
        [("t", "cell 1"), ("t", None), ("t", ""), ("t", "zero vec"), ("t", "club cell")],
        "source string, raw_input_label string",
    )
    out = map_labels_to_reference(
        labels, reference, k=2, encoder=encoder, strategy=strategy
    ).collect()
    rows = {r["raw_input_label"]: r for r in out}
    assert len(out) == len(rows) == 5
    match_cols = [c for c in REPORT_COLS if c.startswith(("match_", "matched_"))]
    for label in (None, "zero vec"):
        assert [rows[label][c] for c in match_cols] == [None] * len(match_cols)
    club = rows["club cell"]
    assert (club["match_score_1"], club["matched_asctb_id_1"]) == (1.0, "CL:0000158")
    assert club["match_score_2"] is None and club["matched_asctb_id_2"] is None
    for label in ("cell 1", ""):
        assert None not in [rows[label][c] for c in match_cols], label


def _report_key(row, k):
    """A report row with its scores rounded to 9 places."""
    d = row.asDict()
    for i in range(1, k + 1):
        s = d[f"match_score_{i}"]
        d[f"match_score_{i}"] = None if s is None else round(s, 9)
    return tuple(sorted(d.items(), key=lambda kv: kv[0]))


def test_blocked_report_equals_join_on_shared_ct_ids(spark):
    """Reference rows that share a CT_ID — the unpivot's UNK sentinel
    (different names) and level-10 twins (same id and name, different
    all_text) — keep their own CT_NAME/all_text in the report: every
    label without an exact hit reports, rank for rank, the ids, scores
    and per-row payload of the join rung's top-k. A zero-norm reference
    row scores NULL and ranks last; k = C shows every rank."""
    import pyarrow as pa

    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf
    from asctb_ct_label_mapper_spark.operators.similarity import (
        top_k_similarity_join,
    )

    unk = "ASCTB CT_ID UNK"
    rows = [
        (unk, "mesh cell", "mesh def", "mesh cell mesh def"),
        (unk, "glow cell", "glow def", "glow cell glow def"),
        (unk, "fern cell", "fern def", "fern cell fern def"),
        ("CL:7", "twin cell", "twin def", "twin cell twin def"),
        ("CL:7", "twin cell", "twin def", "twin cell twin def level ten"),
        ("CL:8", "other cell", "other def", "other cell other def"),
        ("CL:9", "zero cell", "zero def", "zero cell zero def"),
    ]
    zero = F.array_repeat(F.lit(0.0).cast("float"), 16)
    reference = (
        spark.createDataFrame(
            rows, "CT_ID string, CT_NAME string, definition string, all_text string"
        )
        .withColumn("ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME")))
        .withColumn(
            "embedding",
            F.when(F.col("CT_ID") == "CL:9", zero).otherwise(
                stub_encode_udf(F.col("all_text"))
            ),
        )
    )
    # every row's all_text (a cosine match to that row), exact names of
    # a sentinel and of the twins, and a near miss
    texts = [r[3] for r in rows] + ["mesh cell", "twin cell", "glow twin"]
    labels = spark.createDataFrame(
        pa.table({"source": ["t"] * len(texts), "raw_input_label": texts})
    )
    k = len(rows)
    report = {
        r["raw_input_label"]: r.asDict()
        for r in map_labels_to_reference(labels, reference, k=k, strategy="blocked").collect()
    }
    assert len(report) == len(texts)
    for ct_id, name, _, text in rows[:6]:
        row = report[text]
        assert (row["matched_asctb_id_1"], row["matched_asctb_label_1"],
                row["matched_asctb_text_1"]) == (ct_id, name, text)
        assert (row["matched_asctb_id_7"], row["match_score_7"]) == ("CL:9", None)

    queries = labels.withColumn(
        "cleaned_input_label", clean_text_full_udf(F.col("raw_input_label"))
    ).withColumn("embedding", stub_encode_udf(F.col("cleaned_input_label")))
    topk = top_k_similarity_join(
        queries, reference, k, ["raw_input_label"], "CT_ID",
        ref_payload_cols=["CT_NAME", "all_text"],
    ).collect()
    exact = {"mesh cell", "twin cell"}
    joined = {}
    for r in topk:
        if r["raw_input_label"] not in exact:
            joined.setdefault(r["raw_input_label"], {})[r["rank"]] = r
    assert set(joined) == set(texts) - exact
    for text, ranks in joined.items():
        row = report[text]
        assert [
            (row[f"matched_asctb_id_{i}"], row[f"matched_asctb_label_{i}"],
             row[f"matched_asctb_text_{i}"],
             None if row[f"match_score_{i}"] is None else round(row[f"match_score_{i}"], 9))
            for i in range(1, k + 1)
        ] == [
            (ranks[i]["ref_id"], ranks[i]["CT_NAME"], ranks[i]["all_text"],
             None if ranks[i]["score"] is None else round(ranks[i]["score"], 9))
            for i in range(1, k + 1)
        ], text
    for text in exact:  # the overwrite's rank 1: the row's definition
        assert report[text]["matched_asctb_text_1"].endswith(" def"), text
        assert report[text]["match_score_2"] is None, text


def test_map_raw_labels_on_handle_is_one_job(spark, spark_jobs):
    """A list of labels mapped on a ``reference_projection`` handle on the
    blocked rung runs one Spark job of one stage: no routing count, no
    width probe, and the report written in the scoring stage. The same
    labels as a non-local DataFrame give the same report."""
    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf
    from asctb_ct_label_mapper_spark.operators.mapping import reference_projection
    from asctb_ct_label_mapper_spark.operators.similarity import (
        choose_similarity_impl,
    )
    from asctb_ct_label_mapper_spark.pipeline import map_raw_labels

    def encoder(col):
        return stub_encode_udf(col, dim=768)

    n_refs, n_labels = 256, 64
    reference = (
        spark.createDataFrame(
            [(f"CL:{i:04d}", f"cell kind {i}", f"def {i}") for i in range(n_refs)],
            "CT_ID string, CT_NAME string, definition string",
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME")))
        .withColumn("embedding", encoder(F.col("all_text")))
    )
    distinct = [f"cell kind {i}" for i in range(0, n_refs, 8)] + [
        f"unknown thing {i}" for i in range(n_labels - n_refs // 8)
    ]
    texts = distinct + distinct[:8]  # duplicates map once
    assert choose_similarity_impl(len(distinct), n_refs, 768) == "blocked"
    with reference_projection(reference) as ref:
        got, jobs = spark_jobs(
            lambda: map_raw_labels(spark, texts, ref, source_name="t", k=2, encoder=encoder).collect()
        )
        assert _stage_tasks(spark, jobs) == [1]
        labels = spark.createDataFrame(
            [("t", x) for x in texts], "source string, raw_input_label string"
        )
        assert not labels.isLocal()
        again = map_labels_to_reference(labels, ref, k=2, encoder=encoder).collect()
    assert len(got) == len(distinct)
    assert sorted(_report_key(r, 2) for r in got) == sorted(_report_key(r, 2) for r in again)
    assert sum(r["match_score_1"] == 1.0 for r in got) == n_refs // 8


def _stage_tasks(spark, jobs):
    """The task count of each stage of ``jobs``; asserts they are one job."""
    tracker = spark.sparkContext.statusTracker()
    assert len(jobs) == 1, jobs
    return [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(jobs[0]).stageIds]


@pytest.mark.parametrize("blocks", [1, "cores"])
def test_map_raw_labels_seed_width_follows_rows(spark, spark_jobs, blocks):
    """A list of labels runs one task per ``LABELS_PER_TASK`` distinct
    labels, at most the session's parallelism, in one job of one stage:
    ``LABELS_PER_TASK + 1`` labels run 2 tasks, ``LABELS_PER_TASK *
    cores + 1`` run ``cores``. Each report equals the one from the same
    labels as a non-local frame."""
    from asctb_ct_label_mapper_spark.operators.mapping import (
        LABELS_PER_TASK,
        reference_projection,
    )
    from asctb_ct_label_mapper_spark.pipeline import map_raw_labels

    cores = spark.sparkContext.defaultParallelism
    blocks = cores if blocks == "cores" else blocks
    texts = [f"cell kind {i}" for i in range(LABELS_PER_TASK * blocks + 1)]
    with reference_projection(_numbered_reference(spark)) as ref:
        got, jobs = spark_jobs(
            lambda: map_raw_labels(spark, texts + texts[:5], ref, source_name="t", k=2).collect()
        )
        assert _stage_tasks(spark, jobs) == [min(blocks + 1, cores)]
        labels = spark.createDataFrame(
            [("t", x) for x in texts], "source string, raw_input_label string"
        )
        assert not labels.isLocal()
        again = map_labels_to_reference(labels, ref, k=2).collect()
    assert len(got) == len(texts)
    assert sorted(_report_key(r, 2) for r in got) == sorted(_report_key(r, 2) for r in again)


def test_label_list_is_deduplicated_once(spark, spark_jobs, monkeypatch):
    """On a handle, building the report of a list runs no driver collect:
    the list is deduplicated once, before Spark sees it, and duplicates
    map to one row each. A user-built local frame with duplicates is
    still collected and deduplicated on the driver, to one row per
    distinct (source, raw_input_label), at the same width."""
    import pyarrow as pa

    from asctb_ct_label_mapper_spark.operators.mapping import (
        LABELS_PER_TASK,
        reference_projection,
    )
    from asctb_ct_label_mapper_spark.pipeline import map_raw_labels

    distinct = [f"cell kind {i}" for i in range(LABELS_PER_TASK + 1)]
    texts = distinct + distinct[::-1]
    local = spark.createDataFrame(
        pa.table({"source": ["t"] * len(texts), "raw_input_label": texts})
    )
    assert local.isLocal()
    calls = []
    collect = type(local).collect

    def spy(df):
        calls.append(df)
        return collect(df)

    with reference_projection(_numbered_reference(spark)) as ref:
        monkeypatch.setattr(type(local), "collect", spy)
        report = map_raw_labels(spark, texts, ref, source_name="t", k=2)
        assert calls == []
        got, jobs = spark_jobs(report.collect)
        assert _stage_tasks(spark, jobs) == [2]
        from_frame = map_labels_to_reference(local, ref, k=2)
        assert len(calls) == 2  # the report's collect, then the frame's dedup
        again, jobs = spark_jobs(from_frame.collect)
        assert _stage_tasks(spark, jobs) == [2]
    assert sorted(r["raw_input_label"] for r in got) == sorted(distinct)
    assert sorted(_report_key(r, 2) for r in got) == sorted(_report_key(r, 2) for r in again)


def test_degenerate_label_lists(spark):
    """The flagship's contract for degenerate lists: an empty list gives
    zero rows with the 3 + 4k report columns (its seed keeps the empty
    scan, never a 0-partition coalesce); an all-duplicate list gives one
    row; ``None`` maps as the label 'None'; '' gives one row, scored like
    any other label."""
    from asctb_ct_label_mapper_spark.operators.mapping import reference_projection
    from asctb_ct_label_mapper_spark.pipeline import map_raw_labels

    k = 2
    with reference_projection(_numbered_reference(spark)) as ref:
        run = lambda texts: map_raw_labels(spark, texts, ref, source_name="t", k=k)
        empty = run([])
        assert empty.columns == REPORT_COLS
        assert "Coalesce" not in empty._jdf.queryExecution().executedPlan().toString()
        assert empty.collect() == []
        (dup,) = run(["cell kind 3"] * 5).collect()
        assert dup["raw_input_label"] == "cell kind 3"
        rows = run([None, "None", None]).collect()
        assert [r["raw_input_label"] for r in rows] == ["None"]
        rows = {r["raw_input_label"]: r for r in run(["", "unknown thing"]).collect()}
    assert len(rows) == 2
    for label, row in rows.items():
        scores = [row[f"match_score_{i}"] for i in range(1, k + 1)]
        assert None not in scores and scores == sorted(scores, reverse=True), label
        assert row["matched_asctb_id_1"] is not None, label
    assert rows[""]["cleaned_input_label"] == ""


def test_non_local_labels_build_runs_no_job(spark, spark_jobs, tmp_path):
    """Labels read from a file are deduplicated above one hash Exchange
    that is already as wide as the session: building the report on a
    handle runs no job (no width probe runs the dedup shuffle eagerly),
    and the executed plan shuffles once, also when ``source`` is a
    literal, as in the registry's ``mapping_report``."""
    from asctb_ct_label_mapper_spark.operators.mapping import reference_projection

    reference = _numbered_reference(spark, 32)
    path = str(tmp_path / "labels.parquet")
    spark.createDataFrame(
        [("t", f"cell kind {i % 40}") for i in range(120)],
        "source string, raw_input_label string",
    ).write.parquet(path)
    scanned = spark.read.parquet(path)
    assert not scanned.isLocal()
    with reference_projection(reference) as ref:
        for labels in (scanned, scanned.withColumn("source", F.lit("t"))):
            report, jobs = spark_jobs(
                lambda: map_labels_to_reference(labels, ref, k=2, clean=clean_text_expr)
            )
            assert jobs == []
            rows = report.collect()
            # AQE prints the final plan above the initial one
            plan = report._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            assert len(rows) == 40
            assert sum(r["match_score_1"] == 1.0 for r in rows) == 32
            assert plan.count("Exchange ") == 1, plan
            assert "REPARTITION_BY_NUM" in plan, plan


def test_unpinned_local_labels_collect_in_one_job(spark, spark_jobs, monkeypatch):
    """Without a handle, an in-budget reference is read once per call (one
    stats aggregate and one collect, no second aggregate for routing), no
    count of the labels runs, and a local list of a few labels against a
    small reference — the regime the join rung used to take — collects
    its report in one job."""
    import pyarrow as pa

    from asctb_ct_label_mapper_spark.operators import similarity as sim

    reference = _numbered_reference(spark)
    labels = spark.createDataFrame(
        pa.table({
            "source": ["t"] * 3,
            "raw_input_label": ["cell kind 3", "unknown thing", "cell kind 3"],
        })
    )
    assert labels.isLocal()
    assert sim.choose_similarity_impl(2, 40, 16) == "blocked"
    calls = []

    def spy(fn):
        def wrapped(*args, **kwargs):
            calls.append(fn.__name__)
            return fn(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(type(labels), "count", spy(type(labels).count))
    monkeypatch.setattr(sim, "reference_stats", spy(sim.reference_stats))
    report, build_jobs = spark_jobs(
        lambda: map_labels_to_reference(labels, reference, k=2, clean=clean_text_expr)
    )
    assert calls == ["reference_stats"]
    # the stats aggregate (three jobs: AQE submits each query stage as
    # its own) and the reference collect
    assert len(build_jobs) == 4, build_jobs
    rows, jobs = spark_jobs(report.collect)
    assert len(jobs) == 1, jobs
    got = {r["raw_input_label"]: r for r in rows}
    assert len(rows) == len(got) == 2
    assert (got["cell kind 3"]["match_score_1"], got["cell kind 3"]["matched_asctb_id_1"]) == (
        1.0, "CL:0003"
    )
    assert got["unknown thing"]["match_score_2"] is not None


def test_unpinned_exact_call_releases_its_projection(spark):
    """An exact call without a handle persists the narrowed reference
    projection only to build the resident state: the report reads the
    broadcasts alone, so the call leaves no persisted RDD behind."""
    reference = _numbered_reference(spark)
    labels = spark.createDataFrame(
        [("t", "cell kind 3"), ("t", "unknown thing")],
        "source string, raw_input_label string",
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs

    before = persisted().size()
    rows = map_labels_to_reference(labels, reference, k=2, clean=clean_text_expr).collect()
    assert len(rows) == 2
    assert persisted().size() == before


def test_k_past_reference_size_nulls_the_missing_ranks(spark, reference):
    """k = C + 2 on the 5-row reference: ranks 1..C are the join rung's
    top-k, ranks C+1..k are NULL, and an exact hit still reports rank 1
    alone."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        top_k_similarity_join,
    )

    n_refs = reference.count()
    k = n_refs + 2
    labels = spark.createDataFrame(
        [("t", "club cell"), ("t", "mystery blob")],
        "source string, raw_input_label string",
    )
    report = {
        r["raw_input_label"]: r
        for r in map_labels_to_reference(labels, reference, k=k).collect()
    }
    queries = labels.withColumn(
        "cleaned_input_label", clean_text_expr(F.col("raw_input_label"))
    ).withColumn("embedding", stub_encode_udf(F.col("cleaned_input_label")))
    ranks = {
        r["rank"]: r
        for r in top_k_similarity_join(
            queries.filter(F.col("raw_input_label") == "mystery blob"),
            reference, k, ["raw_input_label"], "CT_ID",
            ref_payload_cols=["CT_NAME", "all_text"],
        ).collect()
    }
    assert sorted(ranks) == list(range(1, n_refs + 1))
    miss = report["mystery blob"]
    assert [
        (miss[f"matched_asctb_id_{i}"], miss[f"matched_asctb_label_{i}"],
         miss[f"matched_asctb_text_{i}"], round(miss[f"match_score_{i}"], 9))
        for i in range(1, n_refs + 1)
    ] == [
        (ranks[i]["ref_id"], ranks[i]["CT_NAME"], ranks[i]["all_text"],
         round(ranks[i]["score"], 9))
        for i in range(1, n_refs + 1)
    ]
    hit = report["club cell"]
    assert (hit["match_score_1"], hit["matched_asctb_id_1"]) == (1.0, "CL:0000158")
    for row, first_null in ((miss, n_refs + 1), (hit, 2)):
        for i in range(first_null, k + 1):
            assert [
                row[f"{c}_{i}"] for c in (
                    "match_score", "matched_asctb_id", "matched_asctb_label",
                    "matched_asctb_text",
                )
            ] == [None] * 4, (row["raw_input_label"], i)


def test_only_ivf_takes_the_relational_report(spark, reference, monkeypatch):
    """The relational top-k, pivot and exact overwrite serve IVF only: no
    exact call reaches top_k_similarity_join or overwrite_exact_matches.
    Past the broadcast budget auto takes IVF, whose report keeps the
    exact overwrite the writer applies."""
    from asctb_ct_label_mapper_spark.operators import mapping
    from asctb_ct_label_mapper_spark.operators import similarity as sim

    ref = reference.unionByName(_numbered_reference(spark))
    labels = spark.createDataFrame(
        [("t", "Basal cell"), ("t", "club cell"), ("t", "mystery blob")],
        "source string, raw_input_label string",
    )
    calls = []
    for module, name in (
        (sim, "top_k_similarity_join"), (sim, "ivf_topk"), (mapping, "overwrite_exact_matches")
    ):
        def spy(*args, _fn=getattr(module, name), **kwargs):
            calls.append(_fn.__name__)
            return _fn(*args, **kwargs)
        monkeypatch.setattr(module, name, spy)

    exact = {
        strategy: sorted(map_labels_to_reference(labels, ref, k=2, strategy=strategy).collect())
        for strategy in ("auto", "blocked")
    }
    assert calls == []
    assert exact["auto"] == exact["blocked"]
    monkeypatch.setattr(sim, "REF_BROADCAST_BUDGET_BYTES", 100)
    ivf = sorted(map_labels_to_reference(labels, ref, k=2).collect())
    assert calls == ["ivf_topk", "overwrite_exact_matches"]
    assert ivf[:2] == exact["blocked"][:2]  # the two exact hits
    assert ivf[2]["raw_input_label"] == "mystery blob"
    assert 0 < ivf[2]["match_score_1"] < 1


def test_ivf_on_reference_smaller_than_its_lists(spark, reference):
    """IVF caps its k-means lists at the reference's row count, so 5
    rows against the default 16 lists still map every label."""
    labels = spark.createDataFrame(
        [("t", "Basal cell"), ("t", "club cell"), ("t", "mystery blob"), ("t", "club cell")],
        "source string, raw_input_label string",
    )
    out = map_labels_to_reference(labels, reference, k=2, strategy="ivf").collect()
    assert sorted(r["raw_input_label"] for r in out) == ["Basal cell", "club cell", "mystery blob"]
    got = {r["raw_input_label"]: r for r in out}
    assert got["club cell"]["matched_asctb_id_1"] == "CL:0000158"


def test_unpinned_ivf_reads_reference_stats_once(spark, monkeypatch):
    """An unpinned IVF call runs the reference's stats aggregate once:
    IVF sizes its k-means lists from the resident state the call has
    already read, served as a pin, not from a second stats job."""
    from asctb_ct_label_mapper_spark.operators import similarity as sim

    reference = _numbered_reference(spark)
    labels = spark.createDataFrame(
        [("t", "cell kind 3"), ("t", "unknown thing")], "source string, raw_input_label string"
    )
    pinned = []
    stats = sim.reference_stats

    def spy(frame, *args, **kwargs):
        pinned.append(frame in sim._PINNED)
        return stats(frame, *args, **kwargs)

    monkeypatch.setattr(sim, "reference_stats", spy)
    out = map_labels_to_reference(
        labels, reference, k=2, clean=clean_text_expr, strategy="ivf"
    ).collect()
    # resident_reference's aggregate, then ivf_build_index served by the pin
    assert pinned == [False, True]
    got = {r["raw_input_label"]: r for r in out}
    assert sorted(got) == ["cell kind 3", "unknown thing"]
    assert got["cell kind 3"]["matched_asctb_id_1"] == "CL:0003"


@pytest.mark.parametrize("strategy", ["join", "nope"])
def test_unknown_strategy_raises(spark, reference, strategy):
    """"auto", "blocked" and "ivf" are the strategies; "join" is no
    report path and raises like any unknown value."""
    labels = spark.createDataFrame([("t", "club cell")], "source string, raw_input_label string")
    with pytest.raises(ValueError, match="unknown strategy"):
        map_labels_to_reference(labels, reference, strategy=strategy)


def test_reference_projection_past_budget_is_never_collected(spark, monkeypatch):
    """A handle on a reference past the broadcast budget checks the budget
    from one stats job BEFORE any collect: no reference row reaches the
    driver, the handle keeps only the count and dim, and an explicit
    blocked call fails with the IVF remediation."""
    from asctb_ct_label_mapper_spark.operators import similarity as sim
    from asctb_ct_label_mapper_spark.operators.mapping import reference_projection

    reference = (
        spark.createDataFrame(
            [("CL:9101", "alpha cell", "def a"), ("CL:9102", "beta cell", "def b")],
            "CT_ID string, CT_NAME string, definition string",
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )
    labels = spark.createDataFrame(
        [("t", "beta cell")], "source string, raw_input_label string"
    )
    monkeypatch.setattr(sim, "REF_BROADCAST_BUDGET_BYTES", 100)  # 2 x 16 x 8 B past it
    collected = []
    frame = type(reference)
    collect = frame.collect

    def spy(self):
        rows = collect(self)
        collected.append((tuple(self.columns), len(rows)))
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    with reference_projection(reference) as ref:
        state = sim.resident_reference(ref, "CT_ID")
        assert (state.n_refs, state.dim) == (2, 16)
        assert (state.ids, state.unit, state.payload) == (None, None, None)
        with pytest.raises(ValueError, match="ivf"):
            map_labels_to_reference(labels, ref, strategy="blocked")
    assert collected == [(("c", "d"), 1)]  # the stats row only
