"""User-facing pipeline entry points mirroring the reference's public API
(SURVEY §3): a user of ``asctb_ct_label_mapper`` switches by replacing

    fetch_asctb_reference_embeddings(...)   -> build_reference_embeddings(...)
    map_raw_labels_to_asctb(...)            -> map_raw_labels(...)

with DataFrames in place of pandas frames and Parquet in place of the
CSV/pickle dual-write. Every stage is one lazy Catalyst plan; nothing loops
over rows on the driver.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.functions.nlp import (
    clean_text_full_udf,
    embedding_text_expr,
)
from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
from asctb_ct_label_mapper_spark.operators.enrich import enrich_with_definitions
from asctb_ct_label_mapper_spark.operators.mapping import map_labels_to_reference
from asctb_ct_label_mapper_spark.operators.unpivot import ct_triplet_unpivot
from asctb_ct_label_mapper_spark.sources.sinks import write_csv_utf8_sig, write_parquet

Encoder = Callable[[Column], Column]


def build_reference_embeddings(
    spark: SparkSession,
    raw_sheet: DataFrame,
    cache_path: str | None = None,
    ontology_fixture: DataFrame | None = None,
    encoder: Encoder = stub_encode_udf,
    max_text_length: int = 150,
    csv_export_path: str | None = None,
    clean: Encoder = clean_text_full_udf,
) -> DataFrame:
    """Entry point 3.1 (reference main.py:9-60): wide sheet -> wrangled ->
    ontology-enriched -> embedding-text -> encoded reference table.

    ``ct_name_cleaned`` uses the full six-step cleaner by default — the
    reference cleans CT_NAME with ``execute_nlp_pipeline`` (main.py:139),
    and the mapping side's default must agree or exact-overwrite misses.

    S5 cache probe: when ``cache_path`` exists it is read back directly
    (parquet replaces the reference's pickle, main.py:24-31) — the probe is
    a driver-side catalog check, the read a columnar scan. On miss the full
    plan runs and persists to the cache.
    """
    if cache_path and os.path.exists(cache_path):
        return spark.read.parquet(cache_path)

    ct = ct_triplet_unpivot(raw_sheet)  # P1-P5, R1-R3
    enriched = enrich_with_definitions(ct, fixture=ontology_fixture)  # S4, F10, F11, P6
    encoded = (
        enriched.withColumn("ct_name_cleaned", clean(F.col("CT_NAME")))
        .withColumn("_embed_text", embedding_text_expr(F.col("all_text"), max_text_length))
        .withColumn("embedding", encoder(F.col("_embed_text")))
        .drop("_embed_text")
    )
    if cache_path:
        write_parquet(encoded, cache_path)  # S7 (parquet supplants pickle)
        encoded = spark.read.parquet(cache_path)
    if csv_export_path:
        write_csv_utf8_sig(encoded.drop("embedding"), csv_export_path)  # S6
    return encoded


def map_raw_labels(
    spark: SparkSession,
    raw_labels: Iterable[str] | DataFrame,
    reference: DataFrame,
    source_name: str = "ASCT+B",
    k: int = 1,
    encoder: Encoder = stub_encode_udf,
    csv_export_path: str | None = None,
) -> DataFrame:
    """Entry point 3.2 (reference main.py:171-221): translate raw labels to
    the controlled vocabulary. Accepts a plain iterable (reference parity)
    or a prebuilt (source, raw_input_label) DataFrame; the per-label Python
    loop of the reference is one plan (SURVEY §3.2).

    An iterable is taken as ``str(x)`` per element (so ``None`` maps as
    the label 'None') and handed to Spark as an Arrow table: it plans as a
    ``LocalTableScan`` that the JVM reads, where a list of tuples would be
    a pickled Python RDD re-read by Python tasks in every job of the call.
    Being driver-local, it is deduplicated on the driver, so on a
    ``reference_projection`` handle of a broadcast-sized reference a call
    is one Spark job of one stage (``map_labels_to_reference``)."""
    if isinstance(raw_labels, DataFrame):
        labels = raw_labels
    else:
        texts = [str(x) for x in raw_labels]
        labels = spark.createDataFrame(
            pa.table(
                {
                    "source": pa.array([source_name] * len(texts), pa.string()),
                    "raw_input_label": pa.array(texts, pa.string()),
                }
            )
        )
    report = map_labels_to_reference(labels, reference, k=k, encoder=encoder)
    if csv_export_path:
        write_csv_utf8_sig(report, csv_export_path)  # S6
    return report
