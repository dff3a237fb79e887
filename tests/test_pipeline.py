"""End-to-end pipeline goldens (SURVEY §5 layer 2): wide sheet -> reference
table (with S5 cache) -> mapping report, all offline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.pipeline import build_reference_embeddings, map_raw_labels


@pytest.fixture(scope="module")
def raw_sheet(spark):
    cols = ["CT/1", "CT/1/ID", "CT/1/LABEL", "CT/2", "CT/2/ID", "CT/2/LABEL"]
    rows = [
        ("basal cell", "CL:1000348", "basal", "club cell", "CL:0000158", "club"),
        ("tuft cell", "CL:0002204", "tuft", None, None, None),
        ("ionocyte", None, "iono", "basal cell", "CL:1000348", "basal"),
    ]
    return spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in cols))


@pytest.fixture(scope="module")
def ontology_fixture(spark):
    return spark.createDataFrame(
        [
            ("CL_1000348", "basal lbl", "a basal epithelial cell"),
            ("CL_0000158", "club lbl", "a club cell of the airway"),
        ],
        "ct_id_normalized string, label string, definition string",
    )


def test_build_reference_end_to_end(spark, raw_sheet, ontology_fixture):
    ref = build_reference_embeddings(spark, raw_sheet, ontology_fixture=ontology_fixture)
    rows = {r["CT_NAME"]: r for r in ref.collect()}
    assert set(rows) == {"basal cell", "club cell", "tuft cell", "ionocyte"}
    # enrichment hit
    assert rows["basal cell"]["definition"] == "a basal epithelial cell"
    # enrichment miss -> sentinel; all_text falls back through F11/P6
    assert rows["tuft cell"]["definition"] == "NaN"
    # every row carries a cleaned name and a unit embedding
    assert all(r["ct_name_cleaned"] for r in rows.values())
    assert all(r["embedding"] is not None and len(r["embedding"]) == 16 for r in rows.values())


def test_cache_probe_roundtrip(spark, raw_sheet, ontology_fixture, tmp_path):
    cache = str(tmp_path / "ref_cache.parquet")
    first = build_reference_embeddings(
        spark, raw_sheet, cache_path=cache, ontology_fixture=ontology_fixture
    )
    n = first.count()
    # second call must hit the cache (raw_sheet no longer needed: pass an
    # empty frame to prove the probe short-circuits)
    empty = spark.createDataFrame([], raw_sheet.schema)
    second = build_reference_embeddings(spark, empty, cache_path=cache)
    assert second.count() == n
    assert sorted(second.columns) == sorted(first.columns)


def test_map_raw_labels_iterable_api(spark, raw_sheet, ontology_fixture):
    ref = build_reference_embeddings(spark, raw_sheet, ontology_fixture=ontology_fixture)
    report = map_raw_labels(spark, ["Basal Cell", "weird thing"], ref, source_name="t", k=2)
    rows = {r["raw_input_label"]: r for r in report.collect()}
    assert rows["Basal Cell"]["match_score_1"] == 1.0  # exact after cleaning
    assert rows["Basal Cell"]["matched_asctb_id_1"] == "CL:1000348"
    assert rows["weird thing"]["match_score_1"] < 1.0
    assert rows["weird thing"]["match_score_2"] is not None


def test_csv_export_edge(spark, raw_sheet, ontology_fixture, tmp_path):
    ref = build_reference_embeddings(spark, raw_sheet, ontology_fixture=ontology_fixture)
    out = str(tmp_path / "report_csv")
    map_raw_labels(spark, ["basal cell"], ref, csv_export_path=out)
    import glob

    parts = glob.glob(f"{out}/part-*.csv")
    assert parts and open(parts[0], "rb").read().startswith(b"\xef\xbb\xbf")


def _report_cols(k):
    cols = ["source", "raw_input_label", "cleaned_input_label"]
    for i in range(1, k + 1):
        cols += [
            f"match_score_{i}", f"matched_asctb_id_{i}",
            f"matched_asctb_label_{i}", f"matched_asctb_text_{i}",
        ]
    return cols


@pytest.fixture(scope="module")
def parquet_reference(spark, raw_sheet, ontology_fixture, tmp_path_factory):
    """A file-backed reference, so the only in-memory relation in a
    report's plan is the label list."""
    cache = str(tmp_path_factory.mktemp("ref") / "ref_cache.parquet")
    return build_reference_embeddings(
        spark, raw_sheet, cache_path=cache, ontology_fixture=ontology_fixture
    )


def test_map_raw_labels_list_scans_as_local_table(spark, parquet_reference):
    """A Python list reaches Spark as an Arrow table: the JVM scans it
    (LocalTableScan), no Python task re-reads a pickled RDD."""
    from asctb_ct_label_mapper_spark.plans.audit import formatted_plan

    report = map_raw_labels(spark, ["Basal Cell", "weird thing"], parquet_reference, k=2)
    plan = formatted_plan(report)
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_map_raw_labels_empty_list_keeps_k_column_schema(spark, parquet_reference):
    report = map_raw_labels(spark, [], parquet_reference, k=3)
    assert report.columns == _report_cols(3)
    assert dict(report.dtypes)["match_score_3"] == "double"
    assert report.count() == 0


def test_map_raw_labels_none_and_repeated_labels(spark, parquet_reference):
    """``None`` maps as the label 'None' (str(x) per element); repeated
    labels collapse to one report row."""
    rows = map_raw_labels(
        spark, [None, "Basal Cell", "Basal Cell", None], parquet_reference,
        source_name="t", k=2,
    ).collect()
    assert sorted(r["raw_input_label"] for r in rows) == ["Basal Cell", "None"]
    assert {r["source"] for r in rows} == {"t"}
    by_label = {r["raw_input_label"]: r for r in rows}
    assert by_label["Basal Cell"]["match_score_1"] == 1.0
    assert by_label["None"]["match_score_1"] < 1.0
