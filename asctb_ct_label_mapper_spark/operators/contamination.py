"""Cross-corpus contamination detection: n-gram overlap of an eval corpus
against a training corpus (the standard benchmark-leakage check run before
any model training at scale).

Not in the reference (it never trains) — engine-brief territory, same tier
as dedup.py / curation.py. The operator is corpus-vs-corpus where dedup is
doc-vs-doc: instead of pair formation, it asks "what fraction of THIS eval
document's n-grams appear ANYWHERE in train?".

Scale design (100 TB):
- The train side collapses to its distinct shingle VOCABULARY first — a
  map-side-combinable aggregation whose shuffle volume is per-partition
  vocabulary, not the token stream.
- The overlap probe is ONE hash-shuffle equi-join (eval shingles x train
  vocabulary) followed by a per-doc count aggregation: work is
  proportional to shingle occurrences, never |eval| x |train|.
- ``hash_join_key=True`` joins on ``xxhash64(shingle)`` instead of the raw
  string: same join cardinality (modulo 2^-64 collisions), but the shuffle
  rows shrink from arbitrary-length strings to 8 bytes — the right setting
  at full scale. Default False keeps raw strings so DuckDB can replay the
  join byte-identically for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.operators.dedup import grams_frame


def ngram_contamination(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    hash_join_key: bool = False,
) -> DataFrame:
    """Per eval document: distinct word ``n``-grams, how many of them occur
    in the train corpus, the contamination rate, and a threshold flag.

    Documents with fewer than ``n`` tokens have zero shingles and rate 0.0
    (kept in the output — absence would silently pass a short leaked doc).
    Returns (id_col, n_shingles, n_hit, contamination_rate,
    is_contaminated).

    Shingles come from the Arrow ``grams_frame`` producer, whose shingle
    SETS equal ``word_shingles_expr``'s (the native HOF re-evaluates the
    token split per shingle, interpreted, O(tokens^2) per doc).
    """
    # explode_outer: zero-shingle docs survive as one null-gram row
    ev = grams_frame(
        eval_df.select(F.col(id_col), F.col(text_col)), text_col, n, "_sh"
    ).select(F.col(id_col), F.explode_outer("_sh").alias("gram"))
    vocab = (
        grams_frame(train_df.select(F.col(text_col)), text_col, n, "_sh")
        .select(F.explode("_sh").alias("gram"))
        .distinct()
    )
    if hash_join_key:
        ev = ev.withColumn("gk", F.xxhash64("gram"))
        vocab = vocab.select(F.xxhash64("gram").alias("gk")).distinct()
        joined = ev.join(vocab.withColumn("_hit", F.lit(1)), "gk", "left")
    else:
        joined = ev.join(vocab.withColumn("_hit", F.lit(1)), "gram", "left")
    agg = joined.groupBy(id_col).agg(
        F.count("gram").alias("n_shingles"),
        F.count("_hit").alias("n_hit"),
    )
    rate = F.round(
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_hit").cast("double") / F.col("n_shingles"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return agg.select(
        F.col(id_col),
        "n_shingles",
        "n_hit",
        rate.alias("contamination_rate"),
        (rate >= threshold).alias("is_contaminated"),
    )


def unigram_logppl(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram language-model quality score (CCNet-style): fit add-1
    smoothed unigram probabilities on the train corpus, score every eval
    document by its average negative log-likelihood per token (low =
    train-like text, high = out-of-distribution / junk — the classic
    perplexity-based curation filter).

    p(tok) = (cnt(tok) + 1) / (total_tokens + V); unseen tokens get the
    cnt=0 mass. Scale shape: train counts are one map-side-combinable
    groupBy(token); scoring is one hash equi-join of the exploded eval
    stream against the vocabulary-sized model, then a per-doc average.
    Returns (id_col, n_tokens, avg_neg_logp) — e^avg_neg_logp is the
    perplexity.
    """
    from pyspark import StorageLevel

    train_toks = train_df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    # Persist the vocabulary-sized model BEFORE the totals action below
    # materializes it: the scoring join then reads the cache instead of
    # re-scanning the train corpus (two consumers, one corpus pass).
    counts = (
        train_toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).first()
    if totals["total"] is None:
        # sum over zero rows is NULL — an empty train corpus has no
        # distribution to score against; fail loud, not with int(None)
        raise ValueError("unigram_logppl: train corpus is empty (no tokens)")
    total, vocab = int(totals["total"]), int(totals["vocab"])
    denom = float(total + vocab)
    ev = eval_df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    scored = ev.join(counts, "token", "left").withColumn(
        "neg_logp",
        -F.log((F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double") / denom),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("neg_logp"), 6).alias("avg_neg_logp"),
    )


def sql_unigram_logppl(
    assigned_table_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_split: str = "train",
    eval_split: str = "test",
) -> str:
    """DuckDB replay of ``unigram_logppl`` over a split-carrying table
    expression (same add-1 smoothing and double math)."""
    return f"""
    WITH assigned AS ({assigned_table_sql}),
    train_toks AS (
        SELECT unnest(string_split({text_col}, ' ')) AS token
        FROM assigned WHERE split = '{train_split}'
    ),
    counts AS (SELECT token, count(*) AS cnt FROM train_toks GROUP BY token),
    totals AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM counts),
    ev AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS token
        FROM assigned WHERE split = '{eval_split}'
    ),
    scored AS (
        SELECT e.{id_col},
            -ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / (t.total + t.vocab))
                AS neg_logp
        FROM ev e LEFT JOIN counts c USING (token) CROSS JOIN totals t
    )
    SELECT {id_col}, count(*) AS n_tokens,
           round(avg(neg_logp), 6) AS avg_neg_logp
    FROM scored GROUP BY {id_col}
    """


def sql_ngram_contamination(
    assigned_table_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    train_split: str = "train",
    eval_split: str = "test",
) -> str:
    """DuckDB replay of ``ngram_contamination`` over a table expression that
    already carries a ``split`` column (e.g. the ``sql_hash_split`` body).
    Shingle comprehension mirrors word_shingles_expr: single-space split
    (empties kept), inclusive list slice of ``n`` tokens, list_distinct.
    """
    w = n - 1  # DuckDB slice is inclusive: toks[i:i+w] has n elements
    return f"""
    WITH assigned AS ({assigned_table_sql}),
    sh AS (
        SELECT {id_col}, split,
            list_distinct([array_to_string(toks[i:i+{w}], ' ')
                           for i in range(1, greatest(len(toks) - {w}, 0) + 1)]) AS shingles
        FROM (SELECT {id_col}, split, string_split({text_col}, ' ') AS toks FROM assigned)
    ),
    vocab AS (SELECT DISTINCT unnest(shingles) AS gram FROM sh WHERE split = '{train_split}'),
    ev AS (SELECT {id_col}, unnest(shingles) AS gram FROM sh WHERE split = '{eval_split}'),
    hits AS (
        SELECT e.{id_col}, count(*) AS n_sh, count(v.gram) AS n_hit
        FROM ev e LEFT JOIN vocab v ON v.gram = e.gram
        GROUP BY e.{id_col}
    )
    SELECT b.{id_col},
        coalesce(h.n_sh, 0) AS n_shingles,
        coalesce(h.n_hit, 0) AS n_hit,
        round(CASE WHEN coalesce(h.n_sh, 0) > 0
              THEN CAST(h.n_hit AS DOUBLE) / h.n_sh ELSE 0.0 END, 6)
            AS contamination_rate,
        (round(CASE WHEN coalesce(h.n_sh, 0) > 0
               THEN CAST(h.n_hit AS DOUBLE) / h.n_sh ELSE 0.0 END, 6)
         >= {threshold}) AS is_contaminated
    FROM (SELECT {id_col} FROM sh WHERE split = '{eval_split}') b
    LEFT JOIN hits h USING ({id_col})
    """


def bigram_logppl(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram language-model quality score — the conditional-probability
    upgrade of ``unigram_logppl``: p(w2|w1) = (cnt(w1 w2) + 1) /
    (prefix_cnt(w1) + V), add-1 smoothed, V = train unigram vocabulary.
    Eval docs are scored by average negative log p(w2|w1) over their
    bigrams (docs with < 2 tokens have no bigrams and drop out, mirroring
    the SQL GROUP BY).

    Scale shape: train bigram counts are ONE map-side-combinable
    groupBy over the exploded bigram stream; prefix counts REUSE that
    aggregate (sum by first token — a second vocabulary-sized agg, not a
    second pass over the corpus); V is a scalar. Scoring is two hash
    equi-joins of the exploded eval bigrams against vocabulary-sized
    models, then a per-doc average.

    Bigrams come from the Arrow ``grams_frame`` producer over a
    width-ensured scan (same single-space split, same multiplicity and
    order as the SQL replay). The native transform+slice HOF it replaced
    is interpreted per element: 157 s for the 500k-doc tier vs 15 s.
    """
    from pyspark import StorageLevel

    from asctb_ct_label_mapper_spark.plans.partitioning import (
        ensure_min_partitions,
    )

    train_df = ensure_min_partitions(train_df)
    eval_df = ensure_min_partitions(eval_df)
    train_bg = grams_frame(
        train_df.select(F.col(text_col)), text_col, 2, "_bg", dedup=False
    ).select(F.explode("_bg").alias("bigram"))
    bg_counts = (
        train_bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager: two consumers (the scoring join and the prefix re-aggregate)
    # would otherwise each re-scan the train corpus; the vocab action below
    # cannot populate this cache (different plan), so materialize here.
    bg_counts.count()
    prefix_counts = (
        bg_counts.withColumn("prefix", F.substring_index(F.col("bigram"), " ", 1))
        .groupBy("prefix")
        .agg(F.sum("c12").alias("c1"))
    )
    # Vocabulary WITHOUT a second corpus explode (r14, guide §2.3/§2.4):
    # every token of every doc is either the PREFIX of one of the doc's
    # bigrams (positions 0..L-2) or the doc's LAST token (position L-1 —
    # which for a 1-token doc is its only token). So
    # distinct(tokens) == distinct(prefix(bigram)) ∪ distinct(last_token),
    # where the prefix side re-aggregates the persisted vocabulary-sized
    # bigram model and the last-token side is a narrow doc-grain
    # substring_index — no explode, no token-stream distinct shuffle.
    # Exactly equal on ANY input (single-space split keeps empties on
    # both paths), so the oracle is untouched.
    vocab = int(
        bg_counts.select(
            F.substring_index(F.col("bigram"), " ", 1).alias("token")
        )
        .unionAll(
            train_df.select(
                F.substring_index(F.col(text_col), " ", -1).alias("token")
            )
        )
        .agg(F.countDistinct("token").alias("v"))
        .first()["v"]
    )
    if vocab == 0:
        raise ValueError("bigram_logppl: train corpus is empty (no tokens)")
    ev = grams_frame(
        eval_df.select(F.col(id_col), F.col(text_col)),
        text_col,
        2,
        "_bg",
        dedup=False,
    ).select(F.col(id_col), F.explode("_bg").alias("bigram"))
    ev = ev.withColumn("prefix", F.substring_index(F.col("bigram"), " ", 1))
    scored = (
        ev.join(bg_counts, "bigram", "left")
        .join(prefix_counts, "prefix", "left")
        .withColumn(
            "neg_logp",
            -F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(vocab)).cast("double")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("neg_logp"), 6).alias("avg_neg_logp"),
    )


def sql_bigram_logppl(
    assigned_table_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_split: str = "train",
    eval_split: str = "test",
) -> str:
    """DuckDB replay of ``bigram_logppl`` (same smoothing, same prefix
    reuse of the bigram aggregate, same drop of <2-token docs)."""
    return f"""
    WITH assigned AS ({assigned_table_sql}),
    train_bg AS (
        SELECT unnest([array_to_string(toks[i:i+1], ' ')
                       for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS bigram
        FROM (SELECT string_split({text_col}, ' ') AS toks
              FROM assigned WHERE split = '{train_split}')
    ),
    bg_counts AS (SELECT bigram, count(*) AS c12 FROM train_bg GROUP BY bigram),
    prefix_counts AS (
        SELECT split_part(bigram, ' ', 1) AS prefix, sum(c12) AS c1
        FROM bg_counts GROUP BY 1
    ),
    vocab AS (
        SELECT count(DISTINCT token) AS v FROM (
            SELECT unnest(string_split({text_col}, ' ')) AS token
            FROM assigned WHERE split = '{train_split}'
        )
    ),
    ev AS (
        SELECT {id_col},
               unnest([array_to_string(toks[i:i+1], ' ')
                       for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS bigram
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks
              FROM assigned WHERE split = '{eval_split}')
    ),
    scored AS (
        SELECT e.{id_col},
            -ln(CAST(coalesce(b.c12, 0) + 1 AS DOUBLE)
                / (coalesce(p.c1, 0) + v.v))
                AS neg_logp
        FROM ev e
        LEFT JOIN bg_counts b USING (bigram)
        LEFT JOIN prefix_counts p ON p.prefix = split_part(e.bigram, ' ', 1)
        CROSS JOIN vocab v
    )
    SELECT {id_col}, count(*) AS n_bigrams,
           round(avg(neg_logp), 6) AS avg_neg_logp
    FROM scored GROUP BY {id_col}
    """


def importance_select(
    pool: DataFrame,
    target: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", simplified to unigram
    features): pick the ``n`` pool documents that look most like a small
    TARGET domain, scored by the average per-token log importance ratio

        importance(doc) = avg_w [ log p_target(w) - log p_pool(w) ]
                        = NLL_pool(doc) - NLL_target(doc)

    — the difference of the two add-1-smoothed unigram negative
    log-likelihoods :func:`unigram_logppl` already computes. Target-like
    documents score high; generic/pool-typical text scores near 0 or
    negative. This is the principled replacement for hand-written source
    allowlists when pretraining mixtures must be steered toward a domain.

    Scale shape: two vocabulary-sized unigram models (map-side-combinable
    token counts — the target model is tiny by definition, the pool model
    is the same aggregate the perplexity filter already pays), then ONE
    exploded pool stream scored against BOTH models in the same pass (two
    vocabulary-sized hash joins, one per-doc average computing both NLLs)
    and a global top-n (TakeOrderedAndProject — per-partition heaps, no
    sort shuffle). r14: the earlier formulation called unigram_logppl
    twice, exploding the pool corpus once per model plus once for the
    pool model build and re-joining the two doc-grain results — the fused
    pass removes a full corpus explode, a per-doc aggregate Exchange and
    the doc-level join; per-model 6dp NLL rounding is replayed exactly,
    so values are unchanged.

    Returns (id_col, importance) for the selected docs, importance
    rounded 6dp, ties broken by ascending id.
    """
    from pyspark import StorageLevel

    def _model(train: DataFrame, tag: str):
        counts = (
            train.select(
                F.explode(F.split(F.col(text_col), " ")).alias("token")
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(f"_cnt_{tag}"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        totals = counts.agg(
            F.sum(f"_cnt_{tag}").alias("total"),
            F.count(F.lit(1)).alias("vocab"),
        ).first()
        if totals["total"] is None:
            raise ValueError(
                "unigram_logppl: train corpus is empty (no tokens)"
            )
        return counts, float(int(totals["total"]) + int(totals["vocab"]))

    counts_t, denom_t = _model(target, "t")
    counts_p, denom_p = _model(pool, "p")

    def _neg_logp(tag: str, denom: float):
        return -F.log(
            (F.coalesce(F.col(f"_cnt_{tag}"), F.lit(0)) + 1).cast("double")
            / denom
        )

    ev = pool.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    scored = (
        ev.join(counts_t, "token", "left")
        .join(counts_p, "token", "left")
        .groupBy(id_col)
        .agg(
            F.round(F.avg(_neg_logp("t", denom_t)), 6).alias("_nll_t"),
            F.round(F.avg(_neg_logp("p", denom_p)), 6).alias("_nll_p"),
        )
        .withColumn(
            "importance", F.round(F.col("_nll_p") - F.col("_nll_t"), 6)
        )
    )
    return (
        scored.orderBy(F.desc("importance"), F.asc(id_col))
        .limit(n)
        .select(id_col, "importance")
    )


def sql_importance_select(
    pool_sql: str,
    target_sql: str,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``importance_select`` over pool/target subqueries
    (same smoothing, same 6dp rounding of each NLL before differencing,
    same tie-break)."""

    def model(name: str, src: str) -> str:
        return f"""
    {name}_toks AS (
        SELECT unnest(string_split({text_col}, ' ')) AS token FROM ({src})
    ),
    {name}_counts AS (
        SELECT token, count(*) AS cnt FROM {name}_toks GROUP BY token
    ),
    {name}_totals AS (
        SELECT sum(cnt) AS total, count(*) AS vocab FROM {name}_counts
    )"""

    def nll(name: str) -> str:
        return f"""
        SELECT e.{id_col},
            round(avg(-ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)
                          / (t.total + t.vocab))), 6) AS nll
        FROM ev e
        LEFT JOIN {name}_counts c USING (token)
        CROSS JOIN {name}_totals t
        GROUP BY e.{id_col}"""

    return f"""
    WITH {model('tgt', target_sql)},
    {model('pl', pool_sql)},
    ev AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS token
        FROM ({pool_sql})
    ),
    s_t AS ({nll('tgt')}),
    s_p AS ({nll('pl')})
    SELECT {id_col}, round(s_p.nll - s_t.nll, 6) AS importance
    FROM s_t JOIN s_p USING ({id_col})
    ORDER BY round(s_p.nll - s_t.nll, 6) DESC, {id_col}
    LIMIT {n}
    """
