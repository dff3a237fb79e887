"""Dedup family: planted exact and near duplicates (engine brief)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_flags,
    md5_token_hash,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures_frame,
    ngram_jaccard_pairs,
    simhash_expr,
    simhash_near_dup_pairs,
    word_shingles_expr,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
OTHER = "completely different words appear in this sentence about spark engines"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "s1"),
        (2, BASE, "s1"),      # exact dup of 1
        (3, NEAR, "s1"),      # near dup of 1/2
        (4, OTHER, "s1"),
        (5, "tiny", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup_flags(docs):
    flags = {r["doc_id"]: r for r in exact_dedup_flags(docs, "text", "doc_id").collect()}
    assert flags[1]["dup_count"] == 2 and flags[2]["dup_count"] == 2
    assert flags[1]["is_canonical"] and not flags[2]["is_canonical"]
    assert flags[1]["content_hash"] == flags[2]["content_hash"]
    assert flags[3]["dup_count"] == 1


def test_exact_dedup_keeps_min_id(docs):
    kept = {r["doc_id"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert kept == {1, 3, 4, 5}


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(word_shingles_expr(F.col("t"), 3).alias("sh")).first()["sh"]
    assert out == ["a b c", "b c d"]


def test_shingles_shorter_than_n(spark):
    df = spark.createDataFrame([("a b",)], "t string")
    assert df.select(word_shingles_expr(F.col("t"), 3).alias("sh")).first()["sh"] == []


def test_minhash_finds_planted_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup found
    # unrelated doc never paired; the shingle-less doc only collides with
    # other empties (there are none)
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_candidates_never_cross_all_pairs(docs):
    # candidate count is bounded by bucket collisions, and ids are ordered
    cands = minhash_lsh_candidates(docs, "text", "doc_id").collect()
    assert all(r["id_a"] < r["id_b"] for r in cands)


def test_ngram_jaccard_exact_pair_scores_one(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", "source").collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0
    assert pairs[(1, 4)] == 0.0


def test_simhash_identical_texts_equal(spark):
    df = spark.createDataFrame([(BASE,), (BASE,)], "t string")
    vals = [r["h"] for r in df.select(simhash_expr(F.col("t")).alias("h")).collect()]
    assert vals[0] == vals[1]


def test_simhash_near_dup_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0  # identical -> distance 0
    if (1, 3) in pairs:  # near dup, small distance when blocked together
        assert pairs[(1, 3)] <= 8


def test_fused_shingles_match_native_expr(docs):
    """The Arrow shingle producer (``grams_frame(dedup=True)``) must yield
    the same shingle SET per doc as the native HOF expression
    ``word_shingles_expr`` (oracle-checked queries depend on this)."""
    from asctb_ct_label_mapper_spark.operators.dedup import grams_frame

    both = grams_frame(
        docs.select(
            "doc_id",
            "text",
            word_shingles_expr(F.col("text"), 3).alias("native"),
        ),
        "text",
        3,
        "fused",
    ).collect()
    assert len(both) == docs.count()
    for r in both:
        assert sorted(r["native"]) == sorted(r["fused"]), r["doc_id"]


def test_minhash_signature_udf_shape_and_sentinel(spark):
    """Fixed-width signatures; duplicate shingles don't change the min;
    shingle-less docs get the int64-max sentinel so they only collide with
    other empties."""
    df = spark.createDataFrame(
        [(1, BASE), (2, BASE + " " + BASE), (3, "ab"), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["_id"]: r["_sig"] for r in minhash_signatures_frame(
        df, "text", "doc_id", 16, family="siphash").collect()}
    assert all(len(s) == 16 for s in rows.values())
    sentinel = (1 << 63) - 1
    assert rows[3] == [sentinel] * 16 and rows[4] == [sentinel] * 16
    # doc 2 repeats BASE -> its shingle multiset adds the bridging 3-grams,
    # but every BASE shingle is still present, so each component is <= doc 1's
    assert all(b <= a for a, b in zip(rows[1], rows[2]))


def test_minhash_fused_and_native_find_same_planted_dups(docs):
    """Different hash families, same verdicts on the planted corpus: exact
    dup pair always survives, unrelated docs never pair (threshold 0.5
    verification makes candidate-set differences irrelevant here)."""
    for family in ("siphash", "md5affine"):
        pairs = {(r["id_a"], r["id_b"]) for r in
                 minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5,
                                     family=family).collect()}
        assert (1, 2) in pairs, family
        assert not any(4 in p or 5 in p for p in pairs), family


# (id_a, id_b, jaccard) that both signature families verify on the sf0.001
# documents at the defaults.
SF0001_PAIRS = [
    (0, 50, 0.952381), (0, 82, 0.954545), (5, 450, 0.97561),
    (8, 12, 0.973684), (8, 120, 0.986486), (8, 360, 0.986667),
    (12, 120, 0.960526), (12, 360, 0.986842), (16, 369, 0.988235),
    (26, 176, 0.988506), (33, 436, 0.888889), (45, 487, 0.964286),
    (50, 82, 0.909091), (56, 157, 0.981481), (77, 459, 0.987179),
    (89, 114, 0.928571), (99, 174, 0.988095), (110, 467, 0.98913),
    (119, 425, 0.971429), (120, 360, 0.973333), (144, 161, 0.988636),
    (211, 404, 0.984615), (229, 263, 0.956522), (260, 391, 0.988764),
    (270, 329, 0.988095), (328, 428, 0.974359), (349, 411, 0.980769),
    (474, 498, 0.989362),
]


def _map_in_arrow_rows(df) -> list[int]:
    """Rows each ``MapInArrow`` node of ``df``'s executed plan received
    from Python. An exchange that AQE reuses is read through a leaf
    ``ReusedExchange``, so a kernel whose output two consumers share is
    listed once."""
    rows = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        if name == "MapInArrow":
            rows.append(node.metrics().apply("pythonNumRowsReceived").value())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return rows


@pytest.mark.parametrize("family", ["siphash", "md5affine"])
def test_minhash_pairs_one_lazy_plan(spark, sf_dir, spark_jobs, family):
    """Building the pairs fires no Spark job and a collect leaves no
    persisted RDD. The collect runs the signature kernel once over every
    document and the shingle kernel once over every candidate document:
    both verify joins read one shingle exchange."""
    from asctb_ct_label_mapper_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keys())
    pairs, built = spark_jobs(
        lambda: minhash_dedup_pairs(docs, "text", "doc_id", family=family)
    )
    assert built == []
    rows = pairs.collect()
    assert set(sc._jsc.getPersistentRDDs().keys()) == cached
    cands = minhash_lsh_candidates(docs, "text", "doc_id", family=family).collect()
    cand_docs = {r["id_a"] for r in cands} | {r["id_b"] for r in cands}
    assert sorted(_map_in_arrow_rows(pairs)) == sorted([docs.count(), len(cand_docs)])
    assert sorted(tuple(r) for r in rows) == SF0001_PAIRS


def test_simhash_md5_hash_is_32bit_and_deterministic(spark):
    df = spark.createDataFrame([("tok",), ("tok",), ("other",)], "t string")
    vals = [r["h"] for r in df.select(md5_token_hash(F.col("t")).alias("h")).collect()]
    assert vals[0] == vals[1] != vals[2]
    assert all(0 <= v <= 0xFFFFFFFF for v in vals)


def test_simhash_md5_flavor_pairs_exact_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=8,
                                    hash_fn=md5_token_hash).collect()}
    assert pairs[(1, 2)] == 0


def _group_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def both_paths(monkeypatch):
    """Run a ``duplicate_groups`` build-and-collect on the driver path, then
    again with the driver bound at 0 so the relational label propagation
    runs; the two must give equal rows. Returns those rows."""
    from asctb_ct_label_mapper_spark.operators import dedup

    def run(fn):
        local = fn()
        with monkeypatch.context() as m:
            m.setattr(dedup, "LOCAL_PAIR_ROWS", 0)
            loop = fn()
        assert local == loop
        return local

    return run


def _path_pairs(spark, n: int):
    return spark.createDataFrame([(i, i + 1) for i in range(1, n)], "id_a int, id_b int")


def test_duplicate_groups_transitive_chain(spark, both_paths):
    """A~B and B~C (but A not directly ~C) must collapse into ONE group
    with the min id canonical; D~E forms its own; F stays a singleton."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "id_a int, id_b int"
    )
    all_ids = spark.createDataFrame([(i,) for i in (10, 20, 30, 40, 50, 60)], "doc_id int")
    rows = both_paths(
        lambda: _group_rows(duplicate_groups(pairs, all_ids=all_ids, id_col="doc_id"))
    )
    assert rows == [
        (10, 10, 3, True), (20, 10, 3, False), (30, 10, 3, False),
        (40, 40, 2, True), (50, 40, 2, False), (60, 60, 1, True),
    ]


def test_duplicate_groups_long_path_converges(spark, both_paths):
    """A path graph 1-2-3-...-8 (diameter 7) exercises multiple propagation
    rounds; everything must land in group 1."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    rows = both_paths(lambda: _group_rows(duplicate_groups(_path_pairs(spark, 8))))
    assert {r[1] for r in rows} == {1}
    assert all(r[2] == 8 for r in rows)
    assert [r[0] for r in rows if r[3]] == [1]


def test_duplicate_groups_capped_below_diameter(spark, both_paths):
    """``max_iter`` below the diameter caps both paths at the same partial
    labels: after two synchronous rounds node i carries min(i-2, ...)."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    rows = both_paths(
        lambda: _group_rows(duplicate_groups(_path_pairs(spark, 8), max_iter=2))
    )
    assert [(r[0], r[1]) for r in rows] == [(i, max(1, i - 2)) for i in range(1, 9)]


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("with_all_ids", [False, True])
def test_duplicate_groups_random_graphs_match(spark, both_paths, id_type, with_all_ids):
    """Seeded random sparse graphs (several components, repeated and
    reversed pairs, self-loops) give the same rows on both paths, and the
    group is the min id of the connected component. String ids are not
    zero-padded, so their order differs from the numeric one."""
    import random

    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    rng = random.Random(f"{id_type}/{with_all_ids}")
    conv = (lambda i: f"d{i}") if id_type == "string" else (lambda i: i)
    nodes = [conv(i) for i in range(40)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    all_ids = spark.createDataFrame([(n,) for n in nodes], f"doc_id {id_type}")
    rows = both_paths(
        lambda: _group_rows(
            duplicate_groups(pairs, all_ids=all_ids if with_all_ids else None, max_iter=40)
        )
    )
    comp = {n: n for n in nodes}

    def find(n):
        while comp[n] != n:
            n = comp[n]
        return n

    for a, b in edges:
        ra, rb = find(a), find(b)
        comp[max(ra, rb)] = min(ra, rb)
    seen = nodes if with_all_ids else sorted({n for e in edges for n in e})
    assert [(r[0], r[1]) for r in rows] == sorted((n, find(n)) for n in seen)


def test_duplicate_groups_null_endpoint_adds_nothing(spark, both_paths):
    """A pair with a NULL endpoint adds no edge and no node: without
    ``all_ids`` there is no NULL row, and {3, 4} stays a group of 2."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (3, 4), (5, None)], "id_a long, id_b long"
    )
    rows = both_paths(lambda: _group_rows(duplicate_groups(pairs)))
    assert rows == [(1, 1, 2, True), (2, 1, 2, False), (3, 3, 2, True), (4, 3, 2, False)]


def test_duplicate_groups_empty_pairs(spark, both_paths):
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    all_ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    assert both_paths(lambda: _group_rows(duplicate_groups(pairs))) == []
    assert both_paths(
        lambda: _group_rows(duplicate_groups(pairs, all_ids=all_ids))
    ) == [(1, 1, 1, True), (2, 2, 1, True)]


@pytest.mark.parametrize("bound", [0, None], ids=["loop", "driver"])
def test_duplicate_groups_reads_pairs_once(spark, monkeypatch, bound):
    """The pairs' upstream plan executes once on either path: a counting
    UDF in their lineage fires once per pair row through the build and the
    collect (the driver probe, and at bound 0 the relational loop, both
    read one persisted projection)."""
    from asctb_ct_label_mapper_spark.operators import dedup

    if bound is not None:
        monkeypatch.setattr(dedup, "LOCAL_PAIR_ROWS", bound)
    acc = spark.sparkContext.accumulator(0)

    def count(x):
        acc.add(1)
        return x

    counted = F.udf(count, "long").asNondeterministic()
    base = spark.range(0, 50, numPartitions=4).select(
        F.col("id").alias("a"), (F.col("id") - F.col("id") % 10).alias("id_b")
    )
    pairs = base.select(counted("a").alias("id_a"), "id_b")
    rows = dedup.duplicate_groups(pairs).collect()
    assert len(rows) == 50 and {r["group_id"] for r in rows} == {0, 10, 20, 30, 40}
    assert acc.value == 50


def test_duplicate_groups_job_count_independent_of_rounds(spark, spark_jobs):
    """A 1-pair graph (one round) and an 8-node path (seven rounds) build
    and collect in the same number of Spark jobs, fewer than one
    relational round costs: the rounds run on the driver."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    def jobs(pairs) -> int:
        return len(spark_jobs(lambda: duplicate_groups(pairs).collect())[1])

    one = jobs(_path_pairs(spark, 2))
    path = jobs(_path_pairs(spark, 8))
    assert one == path
    assert one < 6


@pytest.mark.parametrize("qname", ["dedup_groups", "dedup_embedding_groups"])
def test_group_queries_match_on_both_paths(spark, sf_dir, both_paths, qname):
    import __spark_entry__ as entry

    rows = both_paths(lambda: _group_rows(entry.queries()[qname](spark, sf_dir)))
    assert rows and any(r[2] > 1 for r in rows)


class TestGroupRepresentatives:
    def test_picks_longest_then_lowest_id(self, spark):
        from asctb_ct_label_mapper_spark.operators.dedup import group_representatives

        groups = spark.createDataFrame(
            [(1, 1, 3), (2, 1, 3), (3, 1, 3), (4, 4, 1)],
            "doc_id long, group_id long, group_size long",
        )
        docs = spark.createDataFrame(
            [(1, 10), (2, 99), (3, 99), (4, 5)], "doc_id long, n_chars long"
        )
        out = {r["group_id"]: r for r in group_representatives(groups, docs).collect()}
        # group 1: docs 2 and 3 tie on quality 99 -> lowest id wins
        assert out[1]["doc_id"] == 2 and out[1]["quality"] == 99
        assert out[1]["group_size"] == 3
        # singleton keeps itself
        assert out[4]["doc_id"] == 4

    def test_one_row_per_group(self, spark, sf_dir):
        from asctb_ct_label_mapper_spark.operators.dedup import (
            duplicate_groups,
            group_representatives,
            ngram_jaccard_pairs,
        )
        from asctb_ct_label_mapper_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.05)
        groups = duplicate_groups(pairs, all_ids=docs, id_col="doc_id")
        reps = group_representatives(groups, docs)
        n_groups = groups.select("group_id").distinct().count()
        assert reps.count() == n_groups
        # every representative's quality is the max within its group
        joined = (
            groups.join(docs.select("doc_id", "n_chars"), "doc_id")
            .groupBy("group_id")
            .agg({"n_chars": "max"})
            .withColumnRenamed("max(n_chars)", "max_chars")
            .join(reps, "group_id")
        )
        assert joined.filter("quality <> max_chars").count() == 0


def test_embedding_groups_cover_all_ids(spark, sf_dir):
    from asctb_ct_label_mapper_spark.operators.dedup import (
        duplicate_groups,
        embedding_near_dup_pairs,
    )
    from asctb_ct_label_mapper_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.3)
    groups = duplicate_groups(pairs, all_ids=emb, id_col="vec_id")
    assert groups.count() == emb.count()
    # group label is the min id of the group (canonical contract)
    bad = groups.groupBy("group_id").agg({"vec_id": "min"}).filter(
        "group_id <> `min(vec_id)`"
    )
    assert bad.count() == 0


class TestIncrementalDedup:
    def test_finds_cross_side_near_dups_only(self, spark):
        from asctb_ct_label_mapper_spark.operators.dedup import (
            minhash_dedup_incremental,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        corpus = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "totally different words here x y z")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, base), (101, "unrelated content nothing matches at all q w e")],
            "doc_id long, text string",
        )
        rows = minhash_dedup_incremental(corpus, batch, threshold=0.5).collect()
        got = {(r["batch_id"], r["match_id"]) for r in rows}
        assert (100, 1) in got
        assert all(b in (100, 101) for b, _ in got)
        assert all(m in (1, 2, 3) for _, m in got)
        assert not any(b == 101 for b, _ in got)

    def test_matches_union_self_join_on_cross_pairs(self, spark, sf_dir):
        """Incremental results = the cross-side subset of the full self-join
        (same family, same threshold)."""
        from asctb_ct_label_mapper_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_dedup_pairs,
        )
        from asctb_ct_label_mapper_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents")
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        inc = {
            (r["batch_id"], r["match_id"], r["jaccard"])
            for r in minhash_dedup_incremental(corpus, batch, threshold=0.2).collect()
        }
        full = minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.2, n_hashes=16, family="md5affine"
        ).collect()
        cross = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in full
            if (r["id_a"] % 10 == 0) != (r["id_b"] % 10 == 0)
        }
        normalized = {
            (a, b, j) if a % 10 == 0 else (b, a, j) for a, b, j in cross
        }
        assert inc == normalized

    def test_precomputed_signatures_match_inplan_candidates(self, spark, sf_dir, tmp_path):
        """Signature-table candidate generation (VERDICT r6 #4) is
        band-identical to deriving signatures from text in-plan: exact
        verify over either source yields the same pairs."""
        from asctb_ct_label_mapper_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )
        from asctb_ct_label_mapper_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        batch = docs.filter(F.col("doc_id") % 10 == 0)
        corpus = docs.filter(F.col("doc_id") % 10 != 0)
        path = str(tmp_path / "sigs")
        minhash_signatures(corpus).write.parquet(path)
        sigs = spark.read.parquet(path)
        from_text = {
            tuple(r)
            for r in minhash_dedup_incremental(corpus, batch, threshold=0.2).collect()
        }
        from_table = {
            tuple(r)
            for r in minhash_dedup_incremental(
                corpus, batch, threshold=0.2, corpus_signatures=sigs
            ).collect()
        }
        assert from_text == from_table and len(from_table) > 0

    def test_estimate_mode_is_text_free(self, spark, sf_dir, tmp_path):
        """corpus=None + batch=None + signature tables + verify='estimate':
        the plan runs entirely off the signatures parquet — no text column
        is read anywhere (it cannot be: no input has one)."""
        from asctb_ct_label_mapper_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )
        from asctb_ct_label_mapper_spark.schemas import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        path = str(tmp_path / "sigs_all")
        minhash_signatures(docs).write.parquet(path)
        sigs = spark.read.parquet(path)
        out = minhash_dedup_incremental(
            None,
            None,
            threshold=0.2,
            corpus_signatures=sigs.filter(F.col("doc_id") % 10 != 0),
            batch_signatures=sigs.filter(F.col("doc_id") % 10 == 0),
            verify="estimate",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # Spark prints column references as name#id — no text attribute may
        # appear, and the only file scans are the signatures parquet.
        assert "text#" not in plan
        assert "documents.parquet" not in plan
        rows = out.collect()
        assert len(rows) > 0
        # estimates are k/n_hashes fractions in (0, 1]
        assert all(0 < r["jaccard"] <= 1.0 for r in rows)
        assert all(abs(r["jaccard"] * 16 - round(r["jaccard"] * 16)) < 1e-9 for r in rows)

    def test_none_without_signatures_raises(self, spark):
        from asctb_ct_label_mapper_spark.operators.dedup import (
            minhash_dedup_incremental,
        )

        batch = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        with pytest.raises(ValueError):
            minhash_dedup_incremental(None, batch)
        with pytest.raises(ValueError):
            minhash_dedup_incremental(None, None, verify="estimate")


def test_dup_ngram_spans_fixture(spark):
    from asctb_ct_label_mapper_spark.operators.dedup import dup_ngram_spans

    rows = [
        (1, "the quick brown fox jumps"),      # shares "the quick brown"+1 with 2
        (2, "the quick brown fox sleeps"),     # -> 2 shared 3-grams each
        (3, "completely different words here"),  # no shared grams
        (4, "tiny doc"),                        # < n tokens -> no grams, dropped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in dup_ngram_spans(df, n=3).collect()}

    # docs 1 and 2 share "the quick brown" and "quick brown fox"
    assert out[1]["n_grams"] == 3 and out[1]["n_dup_grams"] == 2
    assert out[2]["n_grams"] == 3 and out[2]["n_dup_grams"] == 2
    assert out[1]["dup_fraction"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    assert 4 not in out  # below n tokens: no n-grams to profile


def test_dup_ngram_spans_within_doc_repeat_not_counted(spark):
    from asctb_ct_label_mapper_spark.operators.dedup import dup_ngram_spans

    # a gram repeated within ONE doc is not cross-document duplication
    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x y z w v u")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r.asDict() for r in dup_ngram_spans(df, n=3).collect()}
    assert out[1]["n_dup_grams"] == 0
    assert out[2]["n_dup_grams"] == 0


def test_remove_dup_ngrams_strips_shared_boilerplate_only(spark):
    from asctb_ct_label_mapper_spark.operators.dedup import remove_dup_ngrams

    boiler = "all rights reserved contact us"
    rows = [
        (1, f"unique alpha text one {boiler}"),
        (2, f"{boiler} totally different body here"),
        (3, "no shared content in this document at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_dup_ngrams(df, n=3).collect()}
    # the shared 5-token boilerplate vanishes from both carriers
    assert out[1]["clean_text"] == "unique alpha text one"
    assert out[2]["clean_text"] == "totally different body here"
    assert out[1]["n_removed"] == 5 and out[2]["n_removed"] == 5
    # untouched doc passes through byte-identical
    assert out[3]["clean_text"] == rows[2][1] and out[3]["n_removed"] == 0


def test_remove_dup_ngrams_full_removal_yields_empty_string(spark):
    from asctb_ct_label_mapper_spark.operators.dedup import remove_dup_ngrams

    df = spark.createDataFrame(
        [(1, "same exact text"), (2, "same exact text")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in remove_dup_ngrams(df, n=3).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 3
    assert out[2]["clean_text"] == "" and out[2]["n_removed"] == 3


class TestPairMetrics:
    def test_confusion_counts(self, spark):
        from asctb_ct_label_mapper_spark.operators.dedup import pair_metrics

        pred = spark.createDataFrame(
            [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
        )
        truth = spark.createDataFrame(
            [(1, 2), (3, 4), (7, 8), (9, 10)], "id_a long, id_b long"
        )
        r = pair_metrics(pred, truth).collect()[0]
        assert (r["tp"], r["fp"], r["fn"]) == (2, 1, 2)
        assert r["n_pred"] == 3 and r["n_truth"] == 4
        assert abs(r["precision"] - 2 / 3) < 1e-6
        assert abs(r["recall"] - 0.5) < 1e-6
        f1 = 2 * (2 / 3) * 0.5 / (2 / 3 + 0.5)
        assert abs(r["f1"] - f1) < 1e-6

    def test_empty_sides_null_ratios(self, spark):
        from asctb_ct_label_mapper_spark.operators.dedup import pair_metrics

        empty = spark.createDataFrame([], "id_a long, id_b long")
        truth = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        r = pair_metrics(empty, truth).collect()[0]
        assert r["n_pred"] == 0 and r["precision"] is None
        assert r["recall"] == 0.0 and r["f1"] is None

    def test_minhash_recall_on_registry_fixture(self, spark, sf_dir):
        """The registered quality query's semantics: exact-verified MinHash
        pairs have precision 1.0; banding recall is < 1 but substantial."""
        from asctb_ct_label_mapper_spark.queries import all_queries

        r = all_queries()["dedup_minhash_quality"](spark, sf_dir).collect()[0]
        assert r["fp"] == 0 and (r["precision"] == 1.0 or r["n_pred"] == 0)
        assert r["n_truth"] > 0
        assert r["recall"] is not None and r["recall"] >= 0.5


def test_mismatched_signature_width_fails_loud(spark):
    """r7 review: a signature table written with a different n_hashes must
    raise, not silently band partial signatures / drop every match."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i)) for i in range(20)],
        "doc_id long, text string",
    )
    wrong = minhash_signatures(docs, n_hashes=32)  # table at 32, query at 16
    with pytest.raises(Exception, match="n_hashes"):
        minhash_dedup_incremental(
            None, None,
            corpus_signatures=wrong.filter(F.col("doc_id") % 2 == 0),
            batch_signatures=wrong.filter(F.col("doc_id") % 2 == 1),
            verify="estimate",
        ).collect()


def test_pair_metrics_both_empty_all_zero_counts(spark):
    from asctb_ct_label_mapper_spark.operators.dedup import pair_metrics

    empty = spark.createDataFrame([], "id_a long, id_b long")
    r = pair_metrics(empty, empty).collect()[0]
    assert (r["n_pred"], r["n_truth"], r["tp"], r["fp"], r["fn"]) == (0, 0, 0, 0, 0)
    assert r["precision"] is None and r["recall"] is None and r["f1"] is None


def test_dedup_debounce_previous_occurrence_rule(spark):
    """Suppress when the previous occurrence is within delay; a burst
    longer than the delay re-emits per the documented lag rule; keys
    independent; strictly-greater boundary."""
    from datetime import datetime

    from asctb_ct_label_mapper_spark.operators.dedup import dedup_debounce

    t0 = datetime(2024, 1, 1, 12, 0)

    def at(m):
        return datetime(2024, 1, 1, 12, m)

    rows = [
        (1, at(0), 1, "c"), (2, at(30), 1, "c"),   # 30m: suppressed
        (3, at(45), 1, "c"),                       # 15m after prev: suppressed
        (4, at(50), 2, "c"),                       # other key: kept
        (5, datetime(2024, 1, 1, 13, 45), 1, "c"), # 60m after #3 exactly: suppressed (strict >)
        (6, datetime(2024, 1, 1, 14, 46), 1, "c"), # 61m after #5: kept
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    kept = sorted(r["event_id"] for r in dedup_debounce(df).collect())
    assert kept == [1, 4, 6]


def test_fuzzy_name_matches_blocked_and_thresholded(spark):
    """'cold anvil'~'old anvil' (dist 1) matches inside the 'anvil'
    block; 'cold anvil' vs 'cold bolt' never compared (different
    blocks); duplicates collapse before pairing; threshold excludes
    dist>max."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        fuzzy_name_matches,
    )

    rows = [
        ("cold anvil",), ("old anvil",), ("cold anvil",),  # dup row
        ("cold bolt",), ("shiny anvil",),
    ]
    df = spark.createDataFrame(rows, "p_name string")
    out = sorted(
        (r["name_a"], r["name_b"], r["dist"])
        for r in fuzzy_name_matches(df, "p_name", max_dist=2).collect()
    )
    assert out == [("cold anvil", "old anvil", 1)]
    # widen the threshold: 'shiny anvil' is dist 5 from both 'cold
    # anvil' and 'old anvil' (cold->shiny = 4 subs + 1 insert)
    assert fuzzy_name_matches(df, "p_name", max_dist=4).count() == 1
    assert fuzzy_name_matches(df, "p_name", max_dist=5).count() == 3


def test_signatures_frame_matches_pandas_udf_flavors(docs, spark):
    """The mapInArrow signature frame (zero-copy ListArray output) must
    carry exactly the ``_minhash_sig_matrix`` values of both families for
    the collected texts — the md5affine oracle replays these values.
    Covers empty/None docs (sentinel rows survive the Arrow boundary) via
    an extra frame. The siphash values are also recomputed independently
    with pure-Python integers, min_j((a_j*h + b_j) mod 2^64) per shingle,
    which pins the chunked uint64 wraparound."""
    import numpy as np
    import pandas as pd

    from asctb_ct_label_mapper_spark.operators import dedup

    edge = spark.createDataFrame(
        [(100, "ab"), (101, None), (102, "x y z w")],
        "doc_id long, text string",
    )
    for frame in (docs, edge):
        texts = {r["doc_id"]: r["text"] for r in frame.collect()}
        ids = sorted(texts)
        for family in ("md5affine", "siphash"):
            got = {
                r["_id"]: r["_sig"]
                for r in minhash_signatures_frame(
                    frame, "text", "doc_id", 16, 3, family
                ).collect()
            }
            mat = dedup._minhash_sig_matrix(
                [texts[i] for i in ids], 16, 3, family
            )
            assert got == {i: row.tolist() for i, row in zip(ids, mat)}, family

    sig = {
        r["_id"]: r["_sig"]
        for r in minhash_signatures_frame(
            docs, "text", "doc_id", 16, 3, "siphash"
        ).collect()
    }
    a_fam = [int(x) for x in dedup._MINHASH_A[:16]]
    b_fam = [int(x) for x in dedup._MINHASH_B[:16]]
    for doc_id, text in ((1, BASE), (3, NEAR)):
        toks = text.split(" ")
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        hs = pd.util.hash_array(np.array(grams, dtype=object)).tolist()
        want = []
        for a, b in zip(a_fam, b_fam):
            m = min((a * h + b) % 2**64 for h in hs)
            want.append(m - 2**64 if m >= 2**63 else m)  # read back as int64
        assert sig[doc_id] == want, doc_id


def test_grams_frame_matches_udf_flavors(docs, spark):
    """The mapInArrow gram frame (zero-copy ListArray output) must carry
    exactly ``_shingle_list`` (dedup=True) / ``_gram_list`` (dedup=False)
    of the collected texts, including None/empty/short/double-space
    edges and a doc with a repeated gram, with the pass-through columns
    intact."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        _gram_list,
        _shingle_list,
        grams_frame,
    )

    edge = spark.createDataFrame(
        [(100, "ab", "s9"), (101, None, "s9"), (102, "x y z w x y", "s8"),
         (103, "", "s8"), (104, "a  b", "s8"), (105, "a b c a b c", "s8")],
        "doc_id long, text string, source string",
    )
    for frame in (docs, edge):
        texts = {
            (r["source"], r["doc_id"]): r["text"] for r in frame.collect()
        }
        for dedup, make in ((True, _shingle_list), (False, _gram_list)):
            out = grams_frame(
                frame.select("source", "doc_id", "text"), "text", 3, "_g",
                dedup=dedup,
            )
            assert out.columns == ["source", "doc_id", "_g"]
            got = {
                (r["source"], r["doc_id"]): r["_g"] for r in out.collect()
            }
            want = {key: make(t, 3) for key, t in texts.items()}
            assert got == want, dedup
    # drop_text=False keeps the text column ahead of the gram list
    kept = grams_frame(
        edge.select("doc_id", "text"), "text", 2, "_g", drop_text=False
    )
    assert kept.columns == ["doc_id", "text", "_g"]
    rows = {r["doc_id"]: r for r in kept.collect()}
    assert rows[102]["text"] == "x y z w x y"
    assert rows[102]["_g"] == ["x y", "y z", "z w", "w x"]
    assert rows[101]["_g"] == [] and rows[101]["text"] is None
