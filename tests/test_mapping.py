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


def _stage_rdd_ids(sc, group):
    """RDD ids in the lineage of every stage of the jobs run under
    ``group`` (a stage that reads a cached RDD lists its id). The status
    store is filled by an asynchronous listener; drain it first, or a job
    can be missing, or listed while its stages are not yet written."""
    from py4j.protocol import Py4JJavaError

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    ids = set()
    for job in tracker.getJobIdsForGroup(group):
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


def test_reference_projection_releases_persist(spark):
    """Multi-organ loop contract: the context-managed projection is the
    ONLY cache entry (map_labels_to_reference must not double-persist an
    already-persisted exact projection), routing and the blocked rung read
    the handle's resident state instead of running jobs on the projection,
    and exit destroys the broadcasts and releases the persist."""
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
        for i, strategy in enumerate(("auto", "blocked")):  # two "organs"
            group = f"reference-projection-{i}"
            sc.setJobGroup(group, "map one organ")
            try:
                report = map_labels_to_reference(labels, ref, k=2, strategy=strategy)
                built = _stage_rdd_ids(sc, group)
                reports.append(sorted(
                    (r["raw_input_label"], r["matched_asctb_id_1"],
                     r["matched_asctb_id_2"], round(r["match_score_1"], 6))
                    for r in report.collect()
                ))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            # building the report ran no job on the projection
            assert proj_rdd not in built, strategy
        assert reports[0] == reports[1]  # join (auto) and blocked agree
        assert reports[0][0][:3] == ("beta cell", "CL:9002", None)
        assert cached() == base | {proj_rdd}
    assert not ref.storageLevel.useMemory
    assert cached() == base
    assert not state.ids._jbroadcast.isValid()
    assert not state.unit._jbroadcast.isValid()


def test_reference_projection_of_empty_reference(spark):
    """An empty reference pins (count 0, no rows to collect) and maps as
    it does without the handle."""
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
    with reference_projection(reference) as ref:
        assert map_labels_to_reference(labels, ref, k=2).collect() == bare


@pytest.mark.parametrize("strategy", ["join", "blocked"])
def test_direction_less_label_gets_null_matches(spark, reference, strategy):
    """A label whose embedding is NULL or zero-norm keeps its one report
    row with every match column NULL, on both exact rungs; the exact
    overwrite still applies to it. Labels with a direction, '' among
    them, keep their cosine ranks."""

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
