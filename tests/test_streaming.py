"""Structured Streaming slice: the same builders run as availableNow
streams over the events fixture and agree with their batch flavor."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.schemas import load_table
from asctb_ct_label_mapper_spark.streaming.events import (
    dedup_events,
    sessionize,
    stream_static_topk,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, events_batch, tmp_path_factory):
    # stream from a micros-normalized copy (the raw fixture's NANOS
    # timestamps are not stream-readable either); schema matches batch.
    path = str(tmp_path_factory.mktemp("events_stream"))
    events_batch.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(events_batch.schema).parquet(path)


def _run_stream(spark, sdf, name: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name == "dedup" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_counts_stream_matches_batch(spark, events_batch, events_stream):
    batch = tumbling_counts(events_batch, "1 hour", streaming=False)
    stream = _run_stream(
        spark, tumbling_counts(events_stream, "1 hour", streaming=True), "tumbling"
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s


def test_dedup_events_stream(spark, events_batch, events_stream):
    n_batch = dedup_events(events_batch).count()
    out = _run_stream(spark, dedup_events(events_stream, streaming=True), "dedup")
    assert out.count() == n_batch  # fixture has unique event_ids


def test_batch_dedup_drops_planted_dupe(spark, events_batch):
    doubled = events_batch.unionByName(events_batch.limit(10))
    assert dedup_events(doubled).count() == events_batch.count()


def test_sessionize_stream_matches_batch(spark, events_batch, events_stream):
    batch = sessionize(events_batch, "30 minutes", streaming=False)
    stream = _run_stream(
        spark, sessionize(events_stream, "30 minutes", streaming=True), "sessions"
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s


def test_sessionize_arbitrary_gap_matches_stream(spark, events_batch, events_stream):
    """VERDICT r4 #7: the batch gap parser must accept ANY interval the
    streaming session_window accepts — parity checked at a gap outside the
    old two-entry lookup."""
    batch = sessionize(events_batch, "7 minutes", streaming=False)
    stream = _run_stream(
        spark, sessionize(events_stream, "7 minutes", streaming=True), "sessions7m"
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, stream.collect()))


def test_view_click_pairs_stream_matches_batch(spark, events_batch, events_stream):
    """Stream-STREAM interval join (watermarked both sides, append mode)
    agrees with the batch flavor of the same builder."""
    from asctb_ct_label_mapper_spark.streaming.events import view_click_pairs

    batch = view_click_pairs(events_batch, streaming=False)
    q = (
        view_click_pairs(events_stream, streaming=True)
        .writeStream.format("memory")
        .queryName("vclicks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = spark.sql("SELECT * FROM vclicks")
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, stream.collect()))
    assert len(b) > 0 and b == s


def test_view_click_pairs_window_edges(spark):
    from asctb_ct_label_mapper_spark.streaming.events import view_click_pairs

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view", 0.0, None),
        (2, "2024-01-01 10:00:00", 7, "click", 0.0, None),  # lag 0: in
        (3, "2024-01-01 10:10:00", 7, "click", 0.0, None),  # lag 600: in
        (4, "2024-01-01 10:10:01", 7, "click", 0.0, None),  # lag 601: out
        (5, "2024-01-01 09:59:59", 7, "click", 0.0, None),  # before view: out
        (6, "2024-01-01 10:05:00", 8, "click", 0.0, None),  # other user: out
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = view_click_pairs(df).orderBy("click_id").collect()
    assert [(r["click_id"], r["lag_seconds"]) for r in got] == [(2, 0), (3, 600)]


def test_parse_gap_seconds():
    from asctb_ct_label_mapper_spark.streaming.events import _parse_gap_seconds

    assert _parse_gap_seconds("30 minutes") == 1800
    assert _parse_gap_seconds("1 hour") == 3600
    assert _parse_gap_seconds("45 seconds") == 45
    assert _parse_gap_seconds("2 days") == 172800
    with pytest.raises(ValueError):
        _parse_gap_seconds("three hours")


def test_stateful_user_totals_matches_batch(spark, events_batch, events_stream):
    from asctb_ct_label_mapper_spark.streaming.events import stateful_user_totals

    batch = {r["user_id"]: r for r in stateful_user_totals(events_batch).collect()}
    q = (
        stateful_user_totals(events_stream, streaming=True)
        .writeStream.format("memory")
        .queryName("usertotals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode may emit a row per micro-batch per user; the LAST row per
    # user carries the final state
    stream_rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM usertotals"
    ).collect()
    final = {}
    for r in stream_rows:  # memory sink appends in batch order
        final[r["user_id"]] = r
    assert set(final) == set(batch)
    for uid, row in batch.items():
        assert final[uid]["n_events"] == row["n_events"]
        assert abs(final[uid]["total_value"] - row["total_value"]) < 1e-6


def test_stream_static_topk(spark, sf_dir):
    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_expr
    from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
    from pyspark.sql import functions as F

    part = spark.read.parquet(f"{sf_dir}/part.parquet").limit(50)
    reference = (
        part.select(
            F.col("p_partkey").cast("string").alias("CT_ID"),
            F.col("p_name").alias("CT_NAME"),
        )
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("CT_NAME")))
    )
    labels = spark.createDataFrame(
        [("s", "green widget"), ("s", "blue gear")], "source string, raw_input_label string"
    )
    # batch flavor of the stream-static plan: same builder, finite input
    best = stream_static_topk(labels, reference, k=1)
    rows = best.collect()
    assert len(rows) == 2
    assert all(r["ref_id"] is not None and r["score"] is not None for r in rows)
    assert all(r["rank"] == 1 for r in rows)


def test_stream_static_topk_k2_matches_batch_operator(spark, sf_dir):
    """k>1 parity (VERDICT r4 #8): the streaming-legal collect_list
    formulation must produce the same (ref_id, rank) pairs as the batch
    window top-k for k=2."""
    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_expr
    from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
    from asctb_ct_label_mapper_spark.operators.similarity import top_k_similarity_join
    from pyspark.sql import functions as F

    part = spark.read.parquet(f"{sf_dir}/part.parquet").limit(50)
    reference = (
        part.select(
            F.col("p_partkey").cast("string").alias("CT_ID"),
            F.col("p_name").alias("CT_NAME"),
        )
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("CT_NAME")))
    )
    labels = spark.createDataFrame(
        [("s", "green widget"), ("s", "blue gear"), ("s", "hot bolt")],
        "source string, raw_input_label string",
    )
    stream_rows = {
        (r["raw_input_label"], r["rank"]): r["ref_id"]
        for r in stream_static_topk(labels, reference, k=2).collect()
    }
    enc = labels.withColumn(
        "cleaned_input_label", clean_text_expr(F.col("raw_input_label"))
    ).withColumn("embedding", stub_encode_udf(F.col("cleaned_input_label")))
    batch_rows = {
        (r["raw_input_label"], r["rank"]): r["ref_id"]
        for r in top_k_similarity_join(
            enc, reference, k=2,
            query_id_cols=["source", "raw_input_label", "cleaned_input_label"],
            ref_id_col="CT_ID",
        ).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) == 6  # 3 labels x k=2


def test_stream_static_topk_tie_breaks_to_min_ref_id(spark):
    """ADVICE r4: tied scores must resolve to the MIN ref_id in native
    order, matching the batch rank window (the old max_by picked the max
    in string collation)."""
    from pyspark.sql import functions as F

    # two reference rows with IDENTICAL embeddings -> exact score tie;
    # ids chosen so string order ('10' < '9') disagrees with numeric-ish
    # min/max intuition and with the old max-string behavior
    reference = spark.createDataFrame(
        [("9", [1.0, 0.0]), ("10", [1.0, 0.0]), ("zz", [0.0, 1.0])],
        "CT_ID string, embedding array<float>",
    )
    labels = spark.createDataFrame(
        [("s", "x")], "source string, raw_input_label string"
    )
    # bypass the encoder: inject the query vector directly via a stub
    # reference whose first axis matches
    from asctb_ct_label_mapper_spark.streaming.events import stream_static_topk as topk

    # encode 'x' deterministically; overwrite scores instead: use the
    # operator as-is but with a reference where ties are guaranteed by
    # duplicate embeddings — whichever score 'x' gets, '9' and '10' tie.
    rows = topk(labels, reference, k=2).collect()
    tied = [r for r in rows if r["ref_id"] in ("9", "10")]
    assert len(tied) == 2
    first = min(tied, key=lambda r: r["rank"])
    assert first["ref_id"] == "10"  # '10' < '9' in the column's string order


def test_jsonl_stream_matches_batch(spark, tmp_path):
    import gzip

    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        read_jsonl,
        read_jsonl_stream,
        write_jsonl,
    )

    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    landing = str(tmp_path / "landing")
    write_jsonl(df, landing, compression="gzip")
    with gzip.open(str(tmp_path / "landing" / "zz_bad.json.gz"), "wb") as fh:
        fh.write(b"half a reco\n")
        fh.write(b'{"doc_id": 999, "text": "late"}\n')
    schema = jsonl_schema_with_corrupt(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    out_dir = str(tmp_path / "out")
    q = (
        # corrupt-column filters are rejected on streaming JSON scans;
        # the required-key gate is the streaming-safe clean predicate
        read_jsonl_stream(spark, landing, schema, max_files_per_trigger=2)
        .filter(F.col("doc_id").isNotNull())
        .drop("_corrupt_record")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from asctb_ct_label_mapper_spark.sources.jsonl import split_corrupt

    got = spark.read.parquet(out_dir)
    batch, _ = split_corrupt(read_jsonl(spark, landing, schema))
    assert got.count() == 301  # 300 good + the valid line in the bad shard
    assert got.count() == batch.count()
    assert {r["doc_id"] for r in got.filter(F.col("doc_id") > 200).collect()} == set(
        range(201, 300)
    ) | {999}


def test_streaming_incremental_dedup(spark, sf_dir, tmp_path):
    """VERDICT r6 #7: read_jsonl_stream -> foreachBatch(incremental dedup
    against a static signature table) -> matches appended, batch signatures
    registered. Drained with availableNow in bounded micro-batches; the
    result must cover the batch-mode estimate matches against the seeded
    corpus, and later micro-batches may additionally match earlier ones."""
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )
    from asctb_ct_label_mapper_spark.schemas import load_table
    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        write_jsonl,
    )
    from asctb_ct_label_mapper_spark.sources.jsonl import read_jsonl_stream
    from asctb_ct_label_mapper_spark.streaming.dedup import (
        start_incremental_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    sig_path = str(tmp_path / "sigs")
    minhash_signatures(corpus).write.parquet(sig_path)  # ingest-owned seed
    n_corpus_sigs = spark.read.parquet(sig_path).count()

    landing = str(tmp_path / "landing")
    write_jsonl(batch.repartition(3), landing)  # 3 shards -> >1 micro-batch
    schema = jsonl_schema_with_corrupt(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    matches_path = str(tmp_path / "matches")
    q = start_incremental_dedup_stream(
        read_jsonl_stream(spark, landing, schema, max_files_per_trigger=1),
        sig_path,
        matches_path,
        str(tmp_path / "ckpt"),
        threshold=0.2,
        available_now=True,
    )
    q.awaitTermination(300)

    got = {
        (r["batch_id"], r["match_id"], r["jaccard"])
        for r in spark.read.parquet(matches_path).collect()
    }
    expected = {
        (r["batch_id"], r["match_id"], r["jaccard"])
        for r in minhash_dedup_incremental(
            corpus, batch, threshold=0.2, verify="estimate"
        ).collect()
    }
    assert expected  # fixture has cross-side near-dups
    # every batch-vs-corpus match is found...
    against_corpus = {m for m in got if m[1] % 10 != 0}
    assert against_corpus == expected
    # ...extras (if any) are cross-micro-batch matches among batch docs
    assert all(m[1] % 10 == 0 for m in got - expected)
    # the batch's signatures were registered into the corpus table
    assert (
        spark.read.parquet(sig_path).count() == n_corpus_sigs + batch.count()
    )


def test_streaming_dedup_tolerates_duplicate_signature_rows(spark, sf_dir, tmp_path):
    """At-least-once resilience (r7 review): a retried epoch can append a
    batch's signatures twice; the per-epoch dropDuplicates on the
    signature read must keep match rows UNIQUE regardless."""
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.operators.dedup import minhash_signatures
    from asctb_ct_label_mapper_spark.schemas import load_table
    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        read_jsonl_stream,
        write_jsonl,
    )
    from asctb_ct_label_mapper_spark.streaming.dedup import (
        start_incremental_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    sig_path = str(tmp_path / "sigs")
    seed = minhash_signatures(corpus)
    # simulate a retried append: every corpus signature row TWICE
    seed.unionByName(seed).write.parquet(sig_path)

    landing = str(tmp_path / "landing")
    write_jsonl(batch, landing)
    schema = jsonl_schema_with_corrupt(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    matches_path = str(tmp_path / "matches")
    q = start_incremental_dedup_stream(
        read_jsonl_stream(spark, landing, schema),
        sig_path,
        matches_path,
        str(tmp_path / "ckpt"),
        threshold=0.2,
        available_now=True,
    )
    q.awaitTermination(300)
    got = [tuple(r) for r in spark.read.parquet(matches_path).collect()]
    assert len(got) == len(set(got)) > 0  # no duplicated match rows


def test_streaming_curation_loop(spark, tmp_path):
    """r7: the full streaming ingest-curation loop — PII scrub, quality
    gate with per-rule audit, intra-batch + corpus exact dedup via the
    hash ledger — drained with availableNow; re-delivery idempotency is
    exercised by a second run over an overlapping landing dir."""
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        read_jsonl_stream,
        write_jsonl,
    )
    from asctb_ct_label_mapper_spark.streaming.curate import start_curation_stream

    good = "the quick brown fox jumps over the lazy dog and then naps for a while"
    rows = [
        (1, good + " one"),
        (2, good + " two email me at a@b.com please"),  # PII, still good
        (3, "x"),                                       # fails quality (too short)
        (4, good + " one"),                             # intra-batch dup of 1
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    landing = str(tmp_path / "landing")
    write_jsonl(batch, landing)
    schema = jsonl_schema_with_corrupt(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    hashes = str(tmp_path / "hashes")
    spark.createDataFrame([], "content_hash string").write.parquet(hashes)  # empty seed
    accepted_p, quarantine_p = str(tmp_path / "acc"), str(tmp_path / "quar")

    q = start_curation_stream(
        read_jsonl_stream(spark, landing, schema),
        accepted_p, quarantine_p, hashes, str(tmp_path / "ckpt"),
        min_words=5, available_now=True,
    )
    q.awaitTermination(300)

    acc = {r["doc_id"]: r for r in spark.read.parquet(accepted_p).collect()}
    quar = {r["doc_id"]: r["reject_reason"] for r in spark.read.parquet(quarantine_p).collect()}
    assert set(acc) == {1, 2}
    assert "<EMAIL>" in acc[2]["text"] and acc[2]["n_email"] == 1
    assert quar[3] == "quality" and quar[4] == "duplicate"
    assert spark.read.parquet(hashes).count() == 2

    # re-delivery: the same docs land again (new landing dir, fresh
    # checkpoint) -> everything good is now a corpus duplicate, the hash
    # ledger prevents double-accept
    landing2 = str(tmp_path / "landing2")
    write_jsonl(batch.filter(F.col("doc_id").isin(1, 2)), landing2)
    q2 = start_curation_stream(
        read_jsonl_stream(spark, landing2, schema),
        accepted_p, quarantine_p, hashes, str(tmp_path / "ckpt2"),
        min_words=5, available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(accepted_p).count() == 2  # unchanged
    quar2 = [r for r in spark.read.parquet(quarantine_p).collect()
             if r["reject_reason"] == "duplicate"]
    assert len(quar2) == 3  # intra-batch dup + the two re-delivered


def test_curation_duplicate_ids_in_one_batch_do_not_cross_pair(spark, tmp_path):
    """r7 review: a re-delivered batch can contain the SAME id twice with
    different text — the row-unique join key must keep each row's own
    quality verdict (no cross-pairing, no row multiplication)."""
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        write_jsonl,
        read_jsonl_stream,
    )
    from asctb_ct_label_mapper_spark.streaming.curate import start_curation_stream

    good = "the quick brown fox jumps over the lazy dog and naps for quite a while"
    batch = spark.createDataFrame(
        [(7, good), (7, "x")], "doc_id long, text string"
    )
    landing = str(tmp_path / "landing")
    write_jsonl(batch, landing)
    schema = jsonl_schema_with_corrupt(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    hashes = str(tmp_path / "hashes")
    spark.createDataFrame([], "content_hash string").write.parquet(hashes)
    q = start_curation_stream(
        read_jsonl_stream(spark, landing, schema),
        str(tmp_path / "acc"), str(tmp_path / "quar"), hashes,
        str(tmp_path / "ckpt"), min_words=5, available_now=True,
    )
    q.awaitTermination(300)
    acc = spark.read.parquet(str(tmp_path / "acc")).collect()
    quar = spark.read.parquet(str(tmp_path / "quar")).collect()
    # exactly one accepted (the good text), one quality-reject ('x')
    assert len(acc) == 1 and acc[0]["text"].startswith("the quick")
    assert len(quar) == 1 and quar[0]["reject_reason"] == "quality"


def test_streaming_kmv_merges_to_exact_batch_sketch(spark, sf_dir, tmp_path):
    """KMV ingest loop: micro-batch bottom-k partials appended, merged on
    read — and unlike HLL/count-min, merged state equals the one-pass
    batch sketch EXACTLY (set algebra), including under duplicate
    redelivery (idempotent membership)."""
    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )
    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        read_jsonl_stream,
        write_jsonl,
    )
    from asctb_ct_label_mapper_spark.streaming.sketches import start_kmv_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    landing = str(tmp_path / "landing")
    write_jsonl(ev.repartition(4), landing)
    schema = jsonl_schema_with_corrupt(
        [T.StructField("user_id", T.LongType())]
    )
    sk_path = str(tmp_path / "kmv")
    q = start_kmv_stream(
        read_jsonl_stream(spark, landing, schema, max_files_per_trigger=1),
        sk_path,
        str(tmp_path / "ckpt"),
        item_col="user_id",
        k=32,
        available_now=True,
    )
    q.awaitTermination(300)

    merged = sorted(
        r["h"] for r in kmv_merge(spark.read.parquet(sk_path), k=32).collect()
    )
    whole = sorted(r["h"] for r in kmv_sketch(ev, "user_id", k=32).collect())
    assert merged == whole
    # redelivery: append one shard's partial again -> merge unchanged
    dup = kmv_sketch(ev.limit(100), "user_id", k=32)
    dup.write.mode("append").parquet(sk_path)
    merged2 = sorted(
        r["h"] for r in kmv_merge(spark.read.parquet(sk_path), k=32).collect()
    )
    assert merged2 == whole
    [est] = kmv_estimate(
        kmv_merge(spark.read.parquet(sk_path), k=32), k=32
    ).collect()
    exact = ev.select("user_id").distinct().count()
    assert abs(est["distinct_estimate"] - exact) / exact < 0.8  # k=32 is coarse


def test_watermarked_exact_dedup_bounds_state_and_suppresses_redelivery(
    spark, tmp_path
):
    """dropDuplicatesWithinWatermark: re-emissions of an id inside the
    watermark are suppressed; state evicts old ids (the bounded-state
    contract). Duplicates in-batch and across micro-batches collapse to
    one output row each."""
    from datetime import datetime

    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.streaming.dedup import (
        start_watermarked_exact_dedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    landing = tmp_path / "landing"
    landing.mkdir()

    def shard(name, rows):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        import glob
        import shutil

        [f] = glob.glob(str(tmp_path / "stage" / name / "*.parquet"))
        shutil.copy(f, str(landing / f"{name}.parquet"))

    t0 = datetime(2024, 1, 1, 12, 0)
    # shard A: id 1 twice in-batch, id 2 once
    shard("a", [(1, t0, 1.0), (1, t0, 1.0), (2, t0, 2.0)])
    # shard B: id 1 again (cross-batch redelivery), id 3 new
    shard("b", [(1, t0, 1.0), (3, t0, 3.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    q = start_watermarked_exact_dedup_stream(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        delay="1 hour",
        available_now=True,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3]


def test_transform_with_state_matches_batch(spark, events_batch, events_stream):
    """Spark 4 transformWithStateInPandas flavor: same final per-user
    totals as the batch groupBy oracle (and as the
    applyInPandasWithState flavor). Requires the RocksDB state store
    and the protobuf state protocol (skipped, with the guard asserted,
    where protobuf is absent — this container)."""
    import pytest

    from asctb_ct_label_mapper_spark.streaming.events import (
        stateful_user_totals,
        stateful_user_totals_tws,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            stateful_user_totals_tws(events_stream)
        pytest.skip("protobuf not installed: TWS is an env-blocked seam")

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        batch = {
            r["user_id"]: r
            for r in stateful_user_totals(events_batch).collect()
        }
        q = (
            stateful_user_totals_tws(events_stream)
            .writeStream.format("memory")
            .queryName("usertotals_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        final = {}
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM usertotals_tws"
        ).collect():
            final[r["user_id"]] = r
        assert set(final) == set(batch)
        for uid, row in batch.items():
            assert final[uid]["n_events"] == row["n_events"]
            assert abs(final[uid]["total_value"] - row["total_value"]) < 1e-6
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_enriched_tumbling_counts_batch(spark):
    """Stream-static enrichment shape (batch compile): events join the
    static segment dim, tumbling 1h windows count per segment; a user
    missing from the dim drops (inner join semantics)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from asctb_ct_label_mapper_spark.streaming.events import (
        enriched_tumbling_counts,
    )

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 5), 1, 2.0),
            (2, datetime(2024, 1, 1, 10, 55), 11, 3.0),
            (3, datetime(2024, 1, 1, 11, 5), 1, 4.0),
            (4, datetime(2024, 1, 1, 10, 30), 999, 9.0),  # not in dim
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    dim = spark.createDataFrame(
        [(1, 1), (11, 1)], "user_id long, segment int"
    )
    out = {
        (r["window_start"], r["segment"]): r
        for r in enriched_tumbling_counts(ev, dim).collect()
    }
    assert out[("2024-01-01 10:00:00", 1)]["n_events"] == 2
    assert out[("2024-01-01 10:00:00", 1)]["sum_value"] == 5.0
    assert out[("2024-01-01 11:00:00", 1)]["n_events"] == 1
    assert len(out) == 2  # user 999 dropped


def test_view_click_outer_stream_matches_batch(spark, events_batch, events_stream):
    """LEFT-OUTER stream-stream interval join: unmatched views flush
    NULL-extended when the watermark passes view_ts + window; with
    availableNow draining the file source, the final result must equal
    the batch compile row-for-row (r13 verdict #5).

    Caveat: the LAST view's state can outlive the final watermark (its
    expiry is past max event time - watermark), so the batch compile is
    compared on the rows whose view_ts + window + watermark <= max ts;
    the bench tier plants a far-future sentinel to flush EVERYTHING and
    compares unfiltered."""
    from pyspark.sql import functions as F

    from asctb_ct_label_mapper_spark.streaming.events import view_click_outer

    q = (
        view_click_outer(events_stream, streaming=True)
        .writeStream.format("memory")
        .queryName("vc_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = spark.sql("SELECT * FROM vc_outer")
    hi = events_batch.agg(F.max("ts")).first()[0]
    batch = view_click_outer(events_batch, streaming=False)
    flushable = batch.filter(
        F.to_timestamp(F.col("view_time"))
        + F.expr("INTERVAL 10 minutes") + F.expr("INTERVAL 1 hour")
        <= F.lit(hi)
    )
    cols = [
        "view_id", "user_id", "click_id", "view_time", "click_time",
        "lag_seconds", "matched",
    ]
    b = sorted(map(tuple, flushable.select(*cols).collect()))
    s = sorted(
        map(
            tuple,
            # semi join on view_id ONLY: the flushability cut is a
            # view-side predicate (all of a view's rows are in or out
            # together), and click_id is NULL on the unmatched rows a
            # null-rejecting equi-key would silently drop
            stream.join(
                flushable.select("view_id").distinct(),
                ["view_id"],
                "left_semi",
            )
            .select(*cols)
            .collect(),
        )
    )
    assert len(b) > 0 and b == s
    # and the unmatched half is genuinely present in the streamed rows
    assert any(r[2] is None for r in s)


def test_view_click_outer_batch_unmatched_rows(spark):
    from asctb_ct_label_mapper_spark.streaming.events import view_click_outer

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view", 0.0, None),
        (2, "2024-01-01 10:05:00", 7, "click", 0.0, None),  # matches 1
        (3, "2024-01-01 12:00:00", 8, "view", 0.0, None),   # never clicks
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["view_id"]: r for r in view_click_outer(df).collect()}
    assert got[1]["matched"] and got[1]["click_id"] == 2
    assert not got[3]["matched"]
    assert got[3]["click_id"] is None and got[3]["lag_seconds"] is None


# --- bench streaming tiers: one runner over the per-tier specs ------------

def _load_bench():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree(root):
    return sorted(
        os.path.join(d, n) for d, _, files in os.walk(root) for n in files
    )


@pytest.fixture(scope="module")
def bench_mod():
    return _load_bench()


@pytest.fixture(scope="module")
def tier_sf(sf_dir):
    # the tiers run at sf0.01, next to the suite's sf0.001 fixture data
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def tier_records(spark, bench_mod, tier_sf):
    """Every spec run once at sf0.01 in 3 micro-batches, the ledger tier
    pointed at the sf dir itself; also reports whether the runs left
    anything under the scale-tier cache."""
    scale_root = os.path.dirname(bench_mod._SCALE_ROOT)
    before = _tree(scale_root)
    records = {
        spec.key: bench_mod.run_stream_tier(spark, spec, tier_sf, n_batches=3)
        for spec in bench_mod.STREAM_TIERS
    }
    return records, _tree(scale_root) == before


def test_stream_tiers_gate_and_keep_committed_keys(bench_mod, tier_records):
    """Each gated tier's streamed rows equal its batch plan, and every
    record still carries each key of the committed bench_out.json record
    (except the load markers the load-aware wrapper adds)."""
    records, _ = tier_records
    with open(os.path.join(os.path.dirname(__file__), "..", "bench_out.json")) as f:
        committed = json.load(f)["scales"]
    for spec in bench_mod.STREAM_TIERS:
        rec = records[spec.key]
        assert rec["n_batches"] >= 3, spec.key
        if spec.oracle is not None:
            assert rec["matches_batch"] is True, spec.key
        missing = set(committed[spec.key]) - {"load"} - set(rec)
        assert not missing, (spec.key, missing)
    # the watermark gate: every redelivery lands inside the 7-day delay
    wm = records["streaming_watermark"]
    assert wm["rows_out"] < wm["rows_in"]
    assert wm["suppressed"] == wm["rows_in"] - wm["rows_out"]


def test_stream_tiers_write_nothing_under_scale_root(tier_records):
    assert tier_records[1]


def test_stream_tier_runs_at_given_state_partitions(
    spark, bench_mod, tier_sf, tier_records
):
    """The partition count the runner is given is the one the query ran
    with (read from its progress); the default is
    ``_state_partitions_default()``."""
    records, _ = tier_records
    default = bench_mod._state_partitions_default()
    for spec in bench_mod.STREAM_TIERS:
        if spec.stateful:
            assert records[spec.key]["state_partitions"] == default, spec.key
    wm = next(s for s in bench_mod.STREAM_TIERS if s.name == "watermark")
    rec = bench_mod.run_stream_tier(
        spark, wm, tier_sf, n_batches=3, state_partitions=2
    )
    assert rec["state_partitions"] == 2
    assert rec["matches_batch"] is True


def test_stream_tier_failed_start_restores_session(spark, bench_mod, tier_sf):
    """A query builder that raises leaves the session's shuffle-partition
    setting as it was and removes the tier's work dir."""
    import glob
    import tempfile

    def boom(stream, run):
        raise RuntimeError("start failed")

    wm = next(s for s in bench_mod.STREAM_TIERS if s.name == "watermark")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(bench_mod._state_partitions_default())
    pattern = os.path.join(tempfile.gettempdir(), "graft_watermark_bench_*")
    dirs = set(glob.glob(pattern))
    with pytest.raises(RuntimeError, match="start failed"):
        bench_mod.run_stream_tier(
            spark, wm._replace(start=boom), tier_sf, n_batches=2
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert set(glob.glob(pattern)) == dirs
