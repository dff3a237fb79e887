"""Unit tests for cross-corpus contamination, repetition stats, BPE-ish
tokenization, and int8 embedding quantization."""

from __future__ import annotations

import math

import numpy as np
import pytest

from asctb_ct_label_mapper_spark.operators.contamination import (
    ngram_contamination,
    unigram_logppl,
)
from asctb_ct_label_mapper_spark.operators.curation import pack_sequences
from asctb_ct_label_mapper_spark.operators.quantize import (
    quantize_embeddings,
    quantize_error_stats,
)
from asctb_ct_label_mapper_spark.operators.textstats import (
    bpe_tokenize_stats,
    repetition_stats,
    tfidf_topk,
)


@pytest.fixture()
def corpora(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "machine learning models need clean data"),
        ],
        ["doc_id", "text"],
    )
    evald = spark.createDataFrame(
        [
            # fully contained in train doc 1 -> all 3-grams hit
            (10, "the quick brown fox jumps"),
            # no overlap at all
            (11, "completely unrelated sentence about cooking pasta"),
            # partial overlap: shares 'machine learning models' only
            (12, "machine learning models are large"),
            # too short for a 3-gram
            (13, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    return train, evald


def test_contamination_rates(spark, corpora):
    train, evald = corpora
    out = {
        r["doc_id"]: r
        for r in ngram_contamination(evald, train, threshold=0.5).collect()
    }
    assert out[10]["n_shingles"] == 3 and out[10]["contamination_rate"] == 1.0
    assert out[10]["is_contaminated"]
    assert out[11]["n_hit"] == 0 and not out[11]["is_contaminated"]
    # 'machine learning models are large' -> 3 shingles, 1 hit
    assert out[12]["n_shingles"] == 3 and out[12]["n_hit"] == 1
    assert out[12]["contamination_rate"] == pytest.approx(1 / 3, abs=1e-6)
    # short doc kept with zero shingles, rate 0
    assert out[13]["n_shingles"] == 0 and out[13]["contamination_rate"] == 0.0
    assert not out[13]["is_contaminated"]


def test_contamination_hash_join_key_equivalent(spark, corpora):
    train, evald = corpora
    a = sorted(
        ngram_contamination(evald, train, hash_join_key=False).collect(),
        key=lambda r: r["doc_id"],
    )
    b = sorted(
        ngram_contamination(evald, train, hash_join_key=True).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_repetition_stats_values(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # one distinct token, one distinct bigram
            (2, "all words here differ"),
            (3, ""),  # single empty token after split
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4 and r1["n_grams"] == 3
    assert r1["top_gram_cnt"] == 3 and r1["top_gram_frac"] == 1.0
    assert r1["dup_gram_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert r1["dup_token_frac"] == 0.75
    r2 = out[2]
    assert r2["dup_gram_frac"] == 0.0 and r2["dup_token_frac"] == 0.0
    assert r2["top_gram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # empty text: split(' ') -> one empty token, zero bigrams
    r3 = out[3]
    assert r3["n_tokens"] == 1 and r3["n_grams"] == 0
    assert r3["top_gram_frac"] == 0.0 and r3["dup_gram_frac"] == 0.0


def test_bpe_tokenize_stats(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world 42!"), (2, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in bpe_tokenize_stats(df).collect()}
    r = out[1]
    # tokens: 'Hello' ',' ' world' ' 42' '!'
    assert r["n_bpe_tokens"] == 5
    assert r["n_word_runs"] == 2
    assert r["n_digit_runs"] == 1
    assert r["n_punct_runs"] == 2
    assert r["chars_per_bpe_token"] == pytest.approx(16 / 5, abs=1e-6)
    assert out[2]["n_bpe_tokens"] == 0 and out[2]["chars_per_bpe_token"] == 0.0


def test_tfidf_topk_ranks_distinctive_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "shared apple apple"),
            (2, "shared banana banana"),
            (3, "shared shared shared"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topk(df, k=1).collect()
    top = {r["doc_id"]: r for r in out}
    # the doc-unique repeated term beats the corpus-wide 'shared'
    assert top[1]["token"] == "apple" and top[1]["df"] == 1
    assert top[2]["token"] == "banana"
    assert top[3]["token"] == "shared"
    assert all(r["rank"] == 1 for r in out)


def test_tfidf_fused_matches_relational(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    fused = sorted(map(tuple, tfidf_topk(docs, 3, fused=True).collect()))
    rel = sorted(map(tuple, tfidf_topk(docs, 3, fused=False).collect()))
    assert fused == rel


def test_tfidf_vocab_prune_bounds_model_and_matches_relational(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    fused = sorted(
        map(tuple, tfidf_topk(docs, 3, fused=True, min_df=2, max_vocab=200).collect())
    )
    rel = sorted(
        map(tuple, tfidf_topk(docs, 3, fused=False, min_df=2, max_vocab=200).collect())
    )
    assert fused == rel
    # pruned model: every surviving candidate respects the df floor and the
    # 200-token cap (<=200 distinct tokens across all top-k rows)
    assert all(r[3] >= 2 for r in fused)  # df column
    assert len({r[1] for r in fused}) <= 200  # token column
    # prune only removes candidates — surviving (doc, token) rows score
    # identically to the unpruned run
    unpruned = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_topk(docs, 3, fused=True).collect()
    }
    for r in tfidf_topk(docs, 3, fused=True, min_df=2, max_vocab=200).collect():
        key = (r["doc_id"], r["token"])
        if key in unpruned:
            assert r["tfidf"] == pytest.approx(unpruned[key], abs=1e-9)


def test_unigram_logppl_empty_train_raises(spark):
    evald = spark.createDataFrame([(1, "some text")], ["doc_id", "text"])
    train = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="train corpus is empty"):
        unigram_logppl(evald, train)


def test_unigram_logppl_orders_in_vs_out_of_distribution(spark, corpora):
    train, _ = corpora
    evald = spark.createDataFrame(
        [
            (20, "the quick brown fox"),  # fully in-distribution
            (21, "zzz qqq xxx yyy"),  # all unseen tokens
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in unigram_logppl(evald, train).collect()}
    assert out[20]["avg_neg_logp"] < out[21]["avg_neg_logp"]
    # all-unseen doc scores exactly -ln(1/(total+V)) on every token
    train_toks = [w for (_, t) in train.collect() for w in t.split(" ")]
    expected = math.log(len(train_toks) + len(set(train_toks)))
    assert out[21]["avg_neg_logp"] == pytest.approx(expected, abs=1e-6)


def test_pack_sequences_layout(spark):
    df = spark.createDataFrame(
        [
            # source 'a': 3 docs of 3/4/2 tokens, budget 5
            (1, "t t t", "a"),
            (2, "t t t t", "a"),
            (3, "t t", "a"),
            # source 'b' packs independently
            (10, "t t t t t t", "b"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, budget=5).collect()}
    assert (out[1]["start_offset"], out[1]["pack_id"], out[1]["offset_in_pack"]) == (0, 0, 0)
    assert (out[2]["start_offset"], out[2]["pack_id"], out[2]["offset_in_pack"]) == (3, 0, 3)
    assert (out[3]["start_offset"], out[3]["pack_id"], out[3]["offset_in_pack"]) == (7, 1, 2)
    # independent per-group stream: b restarts at 0
    assert (out[10]["start_offset"], out[10]["pack_id"]) == (0, 0)


def test_new_operator_plan_shapes(spark, sf_dir):
    """Plan contracts: repetition is narrow (no Exchange);
    sequence packing shuffles ONLY on the group key (exactly one
    Exchange, hashpartitioning on source — never a global single-partition
    window)."""
    from asctb_ct_label_mapper_spark.plans.audit import (
        assert_in_plan,
        assert_not_in_plan,
        formatted_plan,
    )
    from asctb_ct_label_mapper_spark.operators.curation import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert_not_in_plan(repetition_stats(docs), "Exchange")
    packed = pack_sequences(docs)
    plan = formatted_plan(packed)
    assert plan.count("Exchange") <= 2  # hash exchange (+ AQE shuffle read)
    assert_in_plan(packed, "hashpartitioning(source")
    assert "SinglePartition" not in plan


def test_quantize_roundtrip_and_bound(spark):
    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(40)]
    rows.append((99, [0.0] * 16))  # zero vector -> scale 1.0 path
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    stats = {r["vec_id"]: r for r in quantize_error_stats(df).collect()}
    assert all(r["within_bound"] for r in stats.values())
    assert stats[99]["scale"] == 1.0 and stats[99]["max_abs_err"] == 0.0

    # explicit roundtrip: dequantized q reproduces the error stats operator
    q = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for vec_id, vec in rows:
        scale = q[vec_id]["scale"]
        deq = np.array(q[vec_id]["q"], dtype=np.float64) / scale
        err = np.abs(np.array(vec, dtype=np.float64) - deq)
        assert err.max() <= 0.5 / scale + 1e-12
        assert round(err.max(), 8) == pytest.approx(
            stats[vec_id]["max_abs_err"], abs=1e-8
        )


def test_quantized_cosine_top1_agreement(spark):
    """Int8-dequantized cosine must preserve the exact top-1 for nearly all
    queries (the ANN-candidate-stage contract)."""
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(120, 24)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))], ["vec_id", "embedding"]
    )
    q = quantize_embeddings(df).collect()
    deq = np.zeros_like(mat, dtype=np.float64)
    for r in q:
        deq[r["vec_id"]] = np.array(r["q"], dtype=np.float64) / r["scale"]

    def top1(m):
        unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = unit @ unit.T
        np.fill_diagonal(sims, -math.inf)
        return sims.argmax(axis=1)

    agree = (top1(mat.astype(np.float64)) == top1(deq)).mean()
    assert agree >= 0.95


class TestBigramLogppl:
    def test_hand_computed(self, spark):
        import math

        from asctb_ct_label_mapper_spark.operators.contamination import bigram_logppl

        train = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
        )
        ev = spark.createDataFrame([(10, "a b x")], "doc_id long, text string")
        # train bigrams: (a b):3, (b a):1, (b c):1; prefix a:3, b:2; V=3
        out = bigram_logppl(ev, train).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_bigrams"] == 2
        # eval bigrams: (a b) -> (3+1)/(3+3); (b x) -> (0+1)/(2+3)
        expect = (-math.log(4 / 6) - math.log(1 / 5)) / 2
        assert r["avg_neg_logp"] == pytest.approx(expect, abs=1e-6)

    def test_short_docs_drop_out(self, spark):
        from asctb_ct_label_mapper_spark.operators.contamination import bigram_logppl

        train = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        ev = spark.createDataFrame(
            [(10, "single"), (11, "a b")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in bigram_logppl(ev, train).collect()}
        assert 10 not in rows  # no bigrams -> no row (SQL GROUP BY parity)
        assert rows[11]["n_bigrams"] == 1

    def test_empty_train_raises(self, spark):
        from asctb_ct_label_mapper_spark.operators.contamination import bigram_logppl

        train = spark.createDataFrame([], "doc_id long, text string")
        ev = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="empty"):
            bigram_logppl(ev, train).collect()


class TestImportanceSelect:
    def test_selects_target_like_docs(self, spark):
        """Pool docs written in the target's vocabulary must outrank pool
        docs written in a disjoint vocabulary."""
        from asctb_ct_label_mapper_spark.operators.contamination import (
            importance_select,
        )

        target = spark.createDataFrame(
            [(100 + i, "alpha beta gamma delta epsilon zeta") for i in range(5)],
            "doc_id long, text string",
        )
        pool_rows = [
            (1, "alpha beta gamma alpha beta delta"),     # target-like
            (2, "beta gamma epsilon zeta alpha gamma"),   # target-like
            (3, "stock market futures trading desk price"),
            (4, "weather rain cloud storm wind forecast"),
        ]
        pool = spark.createDataFrame(pool_rows, "doc_id long, text string")
        top2 = [r["doc_id"] for r in importance_select(pool, target, 2).collect()]
        assert set(top2) == {1, 2}

    def test_exact_n_and_deterministic(self, spark, sf_dir):
        from asctb_ct_label_mapper_spark.queries import all_queries

        reg = all_queries()
        a = reg["dsir_select_docs"](spark, sf_dir).collect()
        b = reg["dsir_select_docs"](spark, sf_dir).collect()
        assert len(a) == 100
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        # scores are finite doubles
        assert all(r["importance"] is not None for r in a)
