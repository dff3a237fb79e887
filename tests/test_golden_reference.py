"""Parity against the reference's own golden artifact: the shipped
83-row x 768-d embedding table. Validates that the engine consumes the
real-world data shape (BOM, multi-line ndarray repr, sentinel strings) and
that the similarity operator behaves on REAL transformer embeddings."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.functions.nlp import clean_text_expr
from asctb_ct_label_mapper_spark.operators.similarity import top_k_similarity_join
from asctb_ct_label_mapper_spark.sources.golden import load_golden_reference

GOLDEN = "/root/reference/asctb_reference_embeddings/ASCTB_Lungv1_2.csv"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN),
    reason=f"golden artifact {os.path.basename(GOLDEN)} not present",
)


@pytest.fixture(scope="module")
def golden(spark):
    return load_golden_reference(spark, GOLDEN).cache()


def test_golden_shape(golden):
    assert golden.count() == 83
    dims = golden.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [768]
    assert golden.select("CT_ID").distinct().count() == 69  # documented collisions


def test_golden_known_collisions(golden):
    # 'basal cell' appears 5x with distinct CT_IDs (SURVEY §2.4 J1 quirk)
    cleaned = golden.withColumn("c", clean_text_expr(F.col("CT_NAME")))
    basal = cleaned.filter(F.col("c") == "basal cell").select("CT_ID").distinct().count()
    assert basal == 5


def test_self_similarity_top1_is_identity(golden):
    # scoring the golden vectors against themselves: top-1 must be the row
    # itself with cosine ~1 (real 768-d vectors, native cosine expression)
    q = golden.select(F.col("CT_ID").alias("qid"), "CT_NAME", "embedding").dropDuplicates(
        ["CT_NAME"]
    )
    out = top_k_similarity_join(
        q, golden.dropDuplicates(["CT_NAME"]).withColumnRenamed("CT_NAME", "ref_name"),
        k=1, query_id_cols=["qid", "CT_NAME"], ref_id_col="ref_name",
    )
    rows = out.collect()
    assert rows
    mismatches = [r for r in rows if r["ref_id"] != r["CT_NAME"]]
    # identical embeddings for distinct names can steal rank 1; allow a few
    assert len(mismatches) <= 3, mismatches[:5]
    assert all(abs(r["score"] - 1.0) < 1e-5 for r in rows if r["ref_id"] == r["CT_NAME"])


def test_exact_overwrite_on_golden(spark, golden):
    from asctb_ct_label_mapper_spark.operators.mapping import map_labels_to_reference

    ref = golden.withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
    labels = spark.createDataFrame(
        [("t", "Basal Cell"), ("t", "unknown mystery type")],
        "source string, raw_input_label string",
    )
    from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf

    report = {r["raw_input_label"]: r for r in
              map_labels_to_reference(
                  labels, ref, k=2,
                  encoder=lambda c: stub_encode_udf(c, dim=768),  # match golden dim
              ).collect()}
    basal = report["Basal Cell"]
    assert basal["match_score_1"] == 1.0  # exact match on real golden data
    assert basal["matched_asctb_id_1"] == "CL:0002329"  # min CT_ID of the 5 collisions
    assert basal["match_score_2"] is None
    assert report["unknown mystery type"]["match_score_1"] < 1.0
