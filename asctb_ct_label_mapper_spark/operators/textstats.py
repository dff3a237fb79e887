"""Text-analysis operators over the ``documents`` table (engine brief):
language ID, quality scoring, token counting, document fingerprinting.

All native expressions (regexp/array functions) — whole-stage codegen, no
Python workers. Every operator has a matching DuckDB-SQL formulation (the
``sql_*`` helpers) so the driver's oracle can hash-compare values.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from asctb_ct_label_mapper_spark.functions.nlp import STOPWORDS, clean_text_expr

# Small function-word lists per language for the n-gram/stopword-hit
# heuristic. Deterministic and tiny by design; real corpora would broadcast
# bigger dictionaries — the plan shape is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
    "en": ("the", "a", "and", "is", "not", "of", "to", "in", "with", "for"),
    "es": ("el", "la", "los", "las", "y", "es", "no", "un", "una", "con"),
    "fr": ("le", "la", "les", "et", "est", "pas", "un", "une", "avec", "dans"),
    "zh": ("de", "shi", "bu", "le", "wo", "ni", "ta", "men", "zai", "you"),
}

_STOPWORDS_SORTED = sorted(STOPWORDS)


def _word_count_regex(words) -> str:
    """Pattern counting tokens (single-space tokenization) that EQUAL one
    of ``words``: a consumed leading separator + non-consuming trailing
    lookahead, so consecutive hits each keep their own separator and
    ``regexp_count`` equals the interpreted ``filter(toks, isin)`` count
    exactly — but runs inside whole-stage codegen instead of per-token
    interpreted HOF evaluation (the r5 text-op regression: 0.52 s -> 0.35 s
    at sf0.1 for text_stats alone)."""
    import re as _re

    alts = "|".join(_re.escape(w) for w in words)
    return f"(?:^|\\s)(?:{alts})(?=\\s|$)"


_STOPWORD_COUNT_RE = _word_count_regex(_STOPWORDS_SORTED)

# Word-or-punctuation tokenizer, BPE-ish in that punctuation splits off as
# its own tokens. Same pattern string works in Spark and DuckDB (RE2/PCRE
# common subset).
TOKEN_REGEX = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"


def tokens_expr(text: Column) -> Column:
    return F.split(text, " ")


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: chars, whitespace tokens, regex tokens, distinct
    tokens, mean token length, punctuation ratio, stopword ratio, and a
    composite quality score in [0,1]."""
    text = F.col(text_col)
    toks = tokens_expr(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    # regex count == filter(toks, lower(w).isin(stopwords)) but codegen;
    # the whole projection then stays in ONE WholeStageCodegen span with
    # subexpression elimination (the HOF filter previously forced the
    # repeated split() branches interpreted)
    stop_hits = F.regexp_count(F.lower(text), F.lit(_STOPWORD_COUNT_RE))
    n_punct = n_chars - F.length(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.regexp_count(text, F.lit(TOKEN_REGEX)).alias("n_regex_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.when(n_tokens > 0, (n_chars - n_tokens + 1).cast("double") / n_tokens), 6
        ).alias("mean_token_len"),
        F.round(F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)), 6)
        .alias("punct_ratio"),
        F.round(
            F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        # composite quality in [0,1]: length band (20..2000 chars), lexical
        # diversity, low punctuation. Weights are heuristic; the point is a
        # single filterable scalar computed entirely in codegen.
        F.round(
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(1.0),
                    0.4 * F.when((n_chars >= 20) & (n_chars <= 2000), 1.0).otherwise(0.2)
                    + 0.3
                    * F.when(
                        n_tokens > 0,
                        F.size(F.array_distinct(toks)).cast("double") / n_tokens,
                    ).otherwise(F.lit(0.0))
                    + 0.3
                    * (
                        1.0
                        - F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(
                            F.lit(0.0)
                        )
                    ),
                ),
            ),
            6,
        ).alias("quality_score"),
    )


def sql_text_stats(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB oracle for ``text_stats``."""
    stop_list = ", ".join("'" + w.replace("'", "''") + "'" for w in _STOPWORDS_SORTED)
    t = text_col
    return f"""
    SELECT {id_col},
        length({t}) AS n_chars,
        len(string_split({t}, ' ')) AS n_tokens,
        len(regexp_extract_all({t}, '{TOKEN_REGEX}')) AS n_regex_tokens,
        len(list_distinct(string_split({t}, ' '))) AS n_distinct_tokens,
        round(CASE WHEN len(string_split({t}, ' ')) > 0
            THEN CAST(length({t}) - len(string_split({t}, ' ')) + 1 AS DOUBLE)
                 / len(string_split({t}, ' ')) END, 6) AS mean_token_len,
        round(CASE WHEN length({t}) > 0
            THEN CAST(length({t}) - length(regexp_replace({t}, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                 / length({t}) ELSE 0.0 END, 6) AS punct_ratio,
        round(CASE WHEN len(string_split({t}, ' ')) > 0
            THEN CAST(len(list_filter(string_split({t}, ' '), w -> lower(w) IN ({stop_list})))
                      AS DOUBLE) / len(string_split({t}, ' ')) ELSE 0.0 END, 6)
            AS stopword_ratio,
        round(greatest(0.0, least(1.0,
            0.4 * CASE WHEN length({t}) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.2 END
            + 0.3 * CASE WHEN len(string_split({t}, ' ')) > 0
                THEN CAST(len(list_distinct(string_split({t}, ' '))) AS DOUBLE)
                     / len(string_split({t}, ' ')) ELSE 0.0 END
            + 0.3 * (1.0 - CASE WHEN length({t}) > 0
                THEN CAST(length({t}) - length(regexp_replace({t}, '[^a-zA-Z0-9 ]', '', 'g'))
                          AS DOUBLE) / length({t}) ELSE 0.0 END)
        )), 6) AS quality_score
    FROM {table}
    """


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: count marker-word hits per language, pick the
    max (ties -> lexicographically smallest language code; 'und' when no
    marker hits at all). Deterministic, hence oracle-checkable."""
    lowered = F.lower(F.col(text_col))
    # one codegen regexp_count per language == filter(toks, isin(markers))
    # count (see _word_count_regex) — replaces 5 interpreted HOF passes
    # each re-evaluating the split
    hit_cols = [
        F.regexp_count(lowered, F.lit(_word_count_regex(words))).alias(f"hits_{lang}")
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    scored = df.select(F.col(id_col), *hit_cols)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties -> apply in reverse
        pred = F.when((best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)).otherwise(pred)
    return scored.select(F.col(id_col), *[F.col(f"hits_{l}") for l in langs], pred.alias("lang_pred"))


def sql_lang_id(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB oracle for ``lang_id`` (same tie-break order)."""
    langs = sorted(LANG_MARKERS)
    hits = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        hits.append(
            f"len(list_filter(string_split(lower({text_col}), ' '), w -> w IN ({words}))) AS hits_{lang}"
        )
    best = "greatest(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    case = "CASE "
    for lang in langs:
        case += f"WHEN {best} > 0 AND hits_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    SELECT {id_col}, {', '.join('hits_' + l for l in langs)}, {case} AS lang_pred
    FROM (SELECT {id_col}, {', '.join(hits)} FROM {table})
    """


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct cleaned tokens
    (classic 'fingerprint' key collapsing word order / duplication /
    punctuation), plus the raw-content md5."""
    cleaned_tokens = F.array_sort(F.array_distinct(F.split(clean_text_expr(F.col(text_col)), " ")))
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_hash"),
        F.md5(F.array_join(cleaned_tokens, " ")).alias("fingerprint"),
    )


def md5_prefix_hash(col):
    """Cross-engine 32-bit string hash: first 8 hex chars of md5 as a
    bigint. Slower than murmur3 (``F.hash``) but reproducible in any engine
    with an md5 function, so winnowing output can be oracle-checked."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Rolling-hash winnowing fingerprints (Schleimer et al.): hash every
    word n-gram, slide a window of ``window`` hashes, keep each window's
    minimum — the classic near-dup/plagiarism fingerprint set, guaranteed
    to share entries for any sufficiently long common substring.

    One native expression chain: shingle -> hash (rolling over tokens) ->
    windowed min -> distinct. The default hash is murmur3 (``F.hash``,
    engine-internal — fastest, no cross-engine oracle); pass
    ``hash_fn=md5_prefix_hash`` for an oracle-reproducible variant.
    """
    if hash_fn is None:
        # wrapped: F.hash is variadic, which transform() can't introspect
        def hash_fn(s):
            return F.hash(s)
    # Every array a LAMBDA references must be a plain attribute from a
    # PRIOR projection: an inlined computed expression is re-evaluated on
    # every lambda invocation (interpreted, no caching), which made the
    # original single-expression chain O(len^3) — measured 346 s for
    # 2000x400-token docs vs 1.7 s with the staged projections below.
    # Each intermediate is referenced >=2 times by its consumer, so
    # CollapseProject keeps the projection boundaries.
    toks = F.split(F.col(text_col), " ")
    step_toks = df.select(F.col(id_col), toks.alias("_toks"))
    t = F.col("_toks")
    idx = F.sequence(F.lit(1), F.size(t) - (shingle_n - 1))
    shingles = F.when(
        F.size(t) >= shingle_n,
        F.transform(idx, lambda i: F.array_join(F.slice(t, i, shingle_n), " ")),
    ).otherwise(F.array().cast("array<string>"))
    # ordered (non-distinct) shingles: windows must follow document order;
    # hashing maps over the aliased array (transform inputs evaluate once)
    step_hashes = step_toks.select(
        F.col(id_col), F.transform(shingles, hash_fn).alias("_hashes")
    )
    h = F.col("_hashes")
    widx = F.sequence(F.lit(1), F.greatest(F.size(h) - (window - 1), F.lit(0)))
    mins = F.when(
        F.size(h) >= window,
        F.transform(widx, lambda i: F.array_min(F.slice(h, i, window))),
    ).otherwise(F.when(F.size(h) > 0, F.array(F.array_min(h))).otherwise(h))
    return step_hashes.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(mins)).alias("fingerprints"),
    )


def sql_fingerprint(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    from asctb_ct_label_mapper_spark.functions.nlp import sql_clean_text

    cleaned = sql_clean_text(text_col)
    return f"""
    SELECT {id_col},
        md5({text_col}) AS content_hash,
        md5(array_to_string(list_sort(list_distinct(string_split({cleaned}, ' '))), ' '))
            AS fingerprint
    FROM {table}
    """


# --- repetition / boilerplate signals ----------------------------------------

# BPE-ish pretokenizer (GPT-2 style, simplified to the Java-regex/RE2 shared
# subset): a token is an optionally-space-prefixed letter run, digit run, or
# punctuation run. No lookaround, no unicode classes — both engines agree.
BPE_TOKEN_REGEX = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def _repetition_counts_udf(n: int):
    """Arrow-vectorized per-doc repetition counters. A per-row statistic
    needs NO shuffle — one Counter pass per document inside the batch."""
    schema = T.StructType(
        [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("n_distinct_tokens", T.IntegerType()),
            T.StructField("n_grams", T.LongType()),
            T.StructField("n_distinct_grams", T.LongType()),
            T.StructField("top_gram_cnt", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def _rep(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for t in texts:
            toks = ("" if t is None else t).split(" ")
            nt = len(toks)
            if nt >= n:
                counts = Counter(
                    " ".join(toks[i : i + n]) for i in range(nt - n + 1)
                )
                ng = nt - n + 1
                rows.append((nt, len(set(toks)), ng, len(counts), max(counts.values())))
            else:
                rows.append((nt, len(set(toks)), 0, 0, 0))
        return pd.DataFrame(
            rows,
            columns=[
                "n_tokens",
                "n_distinct_tokens",
                "n_grams",
                "n_distinct_grams",
                "top_gram_cnt",
            ],
        )

    return _rep


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filters):
    duplicate-token fraction, duplicate-``n``-gram fraction, and the
    fraction of n-gram occurrences taken by the single most frequent
    n-gram. High values mean boilerplate / TEMPLATED text — the curation
    filter drops or downweights them before training.

    Scale shape: a per-row statistic, so the right plan is NARROW — one
    Arrow-vectorized Counter pass per document, zero shuffle (measured
    1.9 s -> 0.38 s at sf0.1 and 13.9 s -> 0.33 s at the 10x tier against
    the relational explode -> groupBy(doc, gram) -> rollup formulation,
    which survives as the DuckDB oracle ``sql_repetition_stats``).
    """
    safe = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
    )
    per_doc = df.select(
        F.col(id_col), _repetition_counts_udf(n)(F.col(text_col)).alias("s")
    ).select(F.col(id_col), F.col("s.*"))
    n_grams = F.col("n_grams")
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        n_grams.alias("n_grams"),
        F.col("top_gram_cnt"),
        safe(F.col("top_gram_cnt"), n_grams).alias("top_gram_frac"),
        safe(n_grams - F.col("n_distinct_grams"), n_grams).alias("dup_gram_frac"),
        safe(
            F.col("n_tokens") - F.col("n_distinct_tokens"), F.col("n_tokens")
        ).alias("dup_token_frac"),
    )


def sql_repetition_stats(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> str:
    """DuckDB replay of ``repetition_stats`` (same ordered-shingle slice)."""
    w = n - 1
    return f"""
    WITH base AS (
        SELECT {id_col},
            len(toks) AS n_tokens,
            len(list_distinct(toks)) AS n_distinct_tokens,
            [array_to_string(toks[i:i+{w}], ' ')
             for i in range(1, greatest(len(toks) - {w}, 0) + 1)] AS grams
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {table})
    ),
    per_gram AS (
        SELECT {id_col}, gram, count(*) AS cnt
        FROM (SELECT {id_col}, unnest(grams) AS gram FROM base)
        GROUP BY {id_col}, gram
    ),
    per_doc AS (
        SELECT {id_col},
            sum(cnt) AS n_grams,
            count(*) AS n_distinct_grams,
            max(cnt) AS top_gram_cnt
        FROM per_gram GROUP BY {id_col}
    )
    SELECT b.{id_col},
        b.n_tokens,
        CAST(coalesce(d.n_grams, 0) AS BIGINT) AS n_grams,
        coalesce(d.top_gram_cnt, 0) AS top_gram_cnt,
        round(CASE WHEN coalesce(d.n_grams, 0) > 0
              THEN CAST(d.top_gram_cnt AS DOUBLE) / d.n_grams ELSE 0.0 END, 6)
            AS top_gram_frac,
        round(CASE WHEN coalesce(d.n_grams, 0) > 0
              THEN CAST(d.n_grams - d.n_distinct_grams AS DOUBLE) / d.n_grams
              ELSE 0.0 END, 6) AS dup_gram_frac,
        round(CASE WHEN b.n_tokens > 0
              THEN CAST(b.n_tokens - b.n_distinct_tokens AS DOUBLE) / b.n_tokens
              ELSE 0.0 END, 6) AS dup_token_frac
    FROM base b LEFT JOIN per_doc d USING ({id_col})
    """


def bpe_tokenize_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document BPE-ish token counts via the regex pretokenizer: total
    tokens, letter/digit/punctuation-run splits, and chars-per-token (a
    compression proxy — low values flag punctuation-soup text). All
    ``regexp_count`` native expressions, fully codegen, zero shuffle."""
    text = F.col(text_col)
    n_bpe = F.regexp_count(text, F.lit(BPE_TOKEN_REGEX))
    return df.select(
        F.col(id_col),
        n_bpe.alias("n_bpe_tokens"),
        F.regexp_count(text, F.lit(" ?[a-zA-Z]+")).alias("n_word_runs"),
        F.regexp_count(text, F.lit(" ?[0-9]+")).alias("n_digit_runs"),
        F.regexp_count(text, F.lit(" ?[^a-zA-Z0-9 ]+")).alias("n_punct_runs"),
        F.round(
            F.when(n_bpe > 0, F.length(text).cast("double") / n_bpe).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("chars_per_bpe_token"),
    )


def sql_bpe_tokenize_stats(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB replay of ``bpe_tokenize_stats`` (same patterns, RE2 side)."""
    t = text_col
    return f"""
    SELECT {id_col},
        len(regexp_extract_all({t}, '{BPE_TOKEN_REGEX}')) AS n_bpe_tokens,
        len(regexp_extract_all({t}, ' ?[a-zA-Z]+')) AS n_word_runs,
        len(regexp_extract_all({t}, ' ?[0-9]+')) AS n_digit_runs,
        len(regexp_extract_all({t}, ' ?[^a-zA-Z0-9 ]+')) AS n_punct_runs,
        round(CASE WHEN len(regexp_extract_all({t}, '{BPE_TOKEN_REGEX}')) > 0
              THEN CAST(length({t}) AS DOUBLE)
                   / len(regexp_extract_all({t}, '{BPE_TOKEN_REGEX}'))
              ELSE 0.0 END, 6) AS chars_per_bpe_token
    FROM {table}
    """


# --- corpus-level token frequency --------------------------------------------


def token_topn(
    df: DataFrame, n: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Global top-``n`` tokens by frequency with document-frequency counts:
    (token, cnt, doc_freq, rank), ties broken by token ascending so the
    cut is deterministic.

    Scale shape: explode -> groupBy(token) is ONE map-side-combinable
    shuffle (partial counts per partition, merged on the reduce side —
    shuffle volume is the per-partition VOCABULARY, not the token stream),
    and the final top-n is a single-partition sort over the already-
    aggregated vocabulary. At 100 TB the vocabulary-sized sort is the only
    non-scalable step; for open-ended vocabularies swap the tail for a
    count-min/space-saving sketch and keep the same aggregation spine.
    """
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("_id").alias("doc_freq"),
    )
    return (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(n)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("token"))
            ),
        )
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    fused: bool = True,
    min_df: int = 1,
    max_vocab: int | None = 50_000,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: tf = in-doc count,
    idf = ln((N+1)/(df+1)) + 1 (smoothed), ties broken by token ascending.

    Two physical strategies, identical output:

    - ``fused`` (default): document frequency is a fully NATIVE aggregate —
      explode(array_distinct(split)) -> one map-side-combinable
      groupBy(token) with a vocabulary-sized result; the (token -> df, idf)
      model is collected once — the same broadcast-boundary contract as the
      blocked similarity join's reference matrix, valid while the
      vocabulary fits the driver — and ONE Arrow pass scores and top-ks
      each document against the broadcast model, emitting k rows per doc.
      No (doc, token) shuffle, no join, no window sort (measured 8.7 s ->
      ~2 s at the 10x tier; an array<struct> token-count UDF variant was
      tried and rejected — shipping 2.7M Python tuples through Arrow cost
      8 s by itself).
    - ``fused=False``: the pure-relational spine (explode -> groupBy tf ->
      hash equi-join with df -> per-doc window top-k) — the shape that
      holds when the vocabulary itself is too big to broadcast, and the
      shape the DuckDB oracle replays.

    ``min_df`` / ``max_vocab`` BOUND the vocabulary model (and with it the
    fused path's driver-side collect): tokens with document frequency <
    ``min_df``, or outside the ``max_vocab`` highest-df tokens (ties broken
    token-ascending), are not score candidates — identical semantics on
    both strategies, both prunes native aggregates pushed before the
    collect. An open web-scale corpus's long tail is hapax-dominated, so
    even min_df=2 collapses the model by ~half; max_vocab makes the driver
    contract an explicit O(max_vocab) instead of O(vocabulary).

    r7 (VERDICT r6 #3): ``max_vocab`` DEFAULTS to 50k — the bounded
    vocabulary IS the default contract, so the fused path's driver memory
    is O(50k) however large the corpus; ``max_vocab=None`` is the explicit
    unbounded opt-in for closed-vocabulary corpora. On any corpus whose
    vocabulary is under the cap (all test scales here) the prune is a
    no-op and output is identical to unbounded.
    """
    n_docs = df.count()  # scalar: one job, broadcast as a literal
    if fused:
        from asctb_ct_label_mapper_spark.plans.partitioning import (
            ensure_min_partitions,
        )

        # Scan width follows file bytes, but both the exploded df-aggregate
        # map side and the Arrow scoring pass are CPU-dense row work: a
        # 60 MB / 500k-doc file scans as 1-2 splits and serializes them
        # onto 2 cores (measured: scoring 22.7 s -> ~2 s after widening).
        df = ensure_min_partitions(df)
        dfreq_base = (
            df.select(
                F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
                    "token"
                )
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        if min_df > 1:
            dfreq_base = dfreq_base.filter(F.col("df") >= min_df)
        if max_vocab is not None:
            # top-N by df is itself an aggregate-sized sort, not a
            # token-stream sort; ties resolved deterministically so both
            # strategies and any oracle agree on the boundary
            dfreq_base = dfreq_base.orderBy(F.desc("df"), F.asc("token")).limit(
                max_vocab
            )
        dfreq_rows = dfreq_base.collect()
        import math as _math

        model = {
            r["token"]: (r["df"], _math.log((n_docs + 1) / (r["df"] + 1)) + 1.0)
            for r in dfreq_rows
        }
        sc = df.sparkSession.sparkContext
        b_model = sc.broadcast(model)
        kk = k
        out_schema = T.ArrayType(
            T.StructType(
                [
                    T.StructField("token", T.StringType()),
                    T.StructField("tf", T.LongType()),
                    T.StructField("df", T.LongType()),
                    T.StructField("tfidf", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            )
        )

        @F.pandas_udf(out_schema)
        def _topk(texts: pd.Series) -> pd.Series:
            from collections import Counter

            m = b_model.value

            def one(t):
                counts = Counter(("" if t is None else t).split(" "))
                # tokens outside the (possibly pruned) model are not score
                # candidates — matches the relational strategy's inner join
                # against the pruned dfreq, and keeps a nondeterministically
                # re-evaluated input from KeyError-ing the executor
                scored = [
                    (tok, tf, m[tok][0], tf * m[tok][1])
                    for tok, tf in counts.items()
                    if tok in m
                ]
                scored.sort(key=lambda r: (-r[3], r[0]))
                return [
                    (tok, tf, dfq, round(sc_, 6), i + 1)
                    for i, (tok, tf, dfq, sc_) in enumerate(scored[:kk])
                ]

            return texts.map(one)

        # Catalyst infers a non-empty-array constraint from the explode
        # below and pushes it down as `size(udf(text)) > 0` — duplicating
        # the scorer into a SECOND ArrowEvalPython below the widening
        # Exchange, so every doc paid the Counter pass twice and the first
        # copy ran on the 1-split scan (guide §4.4). Marking the UDF
        # non-deterministic forbids the duplication; values are unchanged
        # (the function is pure — the marker only blocks optimizer
        # reordering/copying).
        _topk = _topk.asNondeterministic()

        return (
            df.select(F.col(id_col), _topk(F.col(text_col)).alias("_top"))
            .select(F.col(id_col), F.explode("_top").alias("_r"))
            .select(
                F.col(id_col),
                F.col("_r.token").alias("token"),
                F.col("_r.tf").alias("tf"),
                F.col("_r.df").alias("df"),
                F.col("_r.tfidf").alias("tfidf"),
                F.col("_r.rank").alias("rank"),
            )
        )

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf — already one row per (doc, token) — so document
    # frequency is a plain count, not a countDistinct re-deduplicating the
    # raw token stream
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    if max_vocab is not None:
        dfreq = dfreq.orderBy(F.desc("df"), F.asc("token")).limit(max_vocab)
    # inner join: pruned tokens are not score candidates (= fused skip)
    scored = tf.join(dfreq, "token").withColumn(
        "tfidf",
        F.col("tf")
        * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            "token",
            "tf",
            "df",
            F.round("tfidf", 6).alias("tfidf"),
            "rank",
        )
    )


def sql_tfidf_topk(
    table: str = "documents",
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_vocab: int | None = 50_000,
) -> str:
    """DuckDB replay of ``tfidf_topk`` (same smoothing, tie-break, and
    vocabulary prune: df >= min_df, then top-max_vocab by (df DESC, token
    ASC)); defaults mirror the Spark side (max_vocab=50k bounded)."""
    prune = ""
    if min_df > 1:
        prune += f" WHERE df >= {min_df}"
    if max_vocab is not None:
        prune += f" ORDER BY df DESC, token ASC LIMIT {max_vocab}"
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS token
        FROM {table}
    ),
    tf AS (
        SELECT {id_col}, token, count(*) AS tf
        FROM toks GROUP BY {id_col}, token
    ),
    dfreq_all AS (
        SELECT token, count(DISTINCT {id_col}) AS df FROM toks GROUP BY token
    ),
    dfreq AS (
        SELECT token, df FROM dfreq_all{prune}
    ),
    n AS (SELECT count(*) AS n_docs FROM {table}),
    scored AS (
        SELECT t.{id_col}, t.token, t.tf, d.df,
            t.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)) + 1.0) AS tfidf
        FROM tf t JOIN dfreq d USING (token) CROSS JOIN n
    )
    SELECT {id_col}, token, tf, df, round(tfidf, 6) AS tfidf, rank
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY {id_col}
                                          ORDER BY tfidf DESC, token ASC) AS INT)
                  AS rank
        FROM scored
    )
    WHERE rank <= {k}
    """


def inverted_index(
    df: DataFrame,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
) -> DataFrame:
    """Rare-phrase inverted index: for every word ``ngram`` with document
    frequency <= ``max_df``, the sorted posting list of containing doc ids
    (comma-joined so the row is scalar). The rare slice is the useful,
    bounded part of a phrase index — each posting string is <= ``max_df``
    ids, exactly what an exact-phrase / contamination lookup probes —
    while hot keys (unbounded postings) stay in the frequency table
    (token_topn).

    Scale shape: explode distinct n-grams per doc (fused Arrow shingler —
    the interpreted-HOF pitfall) -> ONE groupBy(gram) building df +
    collect_list in the same aggregate; the df filter bounds output row
    width by construction.
    """
    from asctb_ct_label_mapper_spark.operators.dedup import grams_frame

    grams = grams_frame(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        text_col,
        ngram,
        "_sh",
    ).select("_id", F.explode("_sh").alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("posting"),
        )
        .filter(F.col("df") <= max_df)
    )


def sql_inverted_index(
    table: str = "documents",
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
) -> str:
    """DuckDB replay of ``inverted_index`` (same shingle slice + sorted
    posting join)."""
    w = ngram - 1
    return f"""
    SELECT gram, count(*) AS df,
           string_agg(CAST(_id AS VARCHAR), ',' ORDER BY _id) AS posting
    FROM (
        SELECT {id_col} AS _id,
               unnest(list_distinct([array_to_string(toks[i:i+{w}], ' ')
                      for i in range(1, greatest(len(toks) - {w}, 0) + 1)])) AS gram
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {table})
    )
    GROUP BY gram
    HAVING count(*) <= {max_df}
    """


def sql_token_topn(
    table: str = "documents", n: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB replay of ``token_topn`` (same tie-break)."""
    return f"""
    WITH toks AS (
        SELECT {id_col} AS _id, unnest(string_split({text_col}, ' ')) AS token
        FROM {table}
    ),
    counts AS (
        SELECT token, count(*) AS cnt, count(DISTINCT _id) AS doc_freq
        FROM toks GROUP BY token
    )
    SELECT token, cnt, doc_freq,
           CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank
    FROM counts
    ORDER BY cnt DESC, token ASC
    LIMIT {n}
    """


def corpus_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus DRIFT: Jensen-Shannon divergence between each
    group's unigram token distribution and the rest-of-corpus distribution
    — the mixture-monitoring primitive a training-data pipeline runs per
    source/snapshot to catch a feed going off-distribution.

    JSD(P,Q) = 0.5*KL(P||M) + 0.5*KL(Q||M), M=(P+Q)/2, natural log
    (bounded by ln 2). The sum over tokens ABSENT from the group is closed
    form — each contributes 0.5*q*ln 2 — so the plan never joins the group
    against the full vocabulary: per-(group, token-present) terms plus
    0.5*ln2*(1 - sum q) cover the whole support.

    Scale shape: ONE pass over the token stream builds the (group, token)
    count model (map-side-combinable); the model is persisted and
    materialized eagerly because FOUR branches read it (itself, the
    per-token global counts, the per-group totals, the grand total) — a
    lazy plan would re-scan the corpus once per branch (verified in the
    physical plan: 4 parquet scans collapse to 1 + InMemoryTableScans).
    The rest is model-sized: one vocabulary equi-join + a group-sized agg;
    the global-total scalar rides a broadcast 1-row cross join. No UDFs,
    no driver collect; shuffle volume is the per-partition vocabulary.
    """
    from pyspark import StorageLevel

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    sc = (
        toks.groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sc.count()  # eager: see docstring — 4 consumers, 1 corpus pass
    g = sc.groupBy("token").agg(F.sum("c").alias("gc"))
    tot = sc.groupBy("grp").agg(F.sum("c").alias("tot"))
    gt = sc.agg(F.sum("c").alias("g_total"))
    j = (
        sc.join(g, "token")
        .join(F.broadcast(tot), "grp")
        .crossJoin(F.broadcast(gt))
    )
    p = F.col("c") / F.col("tot")
    q = (F.col("gc") - F.col("c")).cast("double") / (F.col("g_total") - F.col("tot"))
    m = (p + q) / F.lit(2.0)
    term = 0.5 * p * F.log(p / m) + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(
        F.lit(0.0)
    )
    agg = j.select(
        "grp", F.col("tot"), term.alias("term"), q.alias("q")
    ).groupBy("grp", "tot").agg(
        F.sum("term").alias("jsd_present"), F.sum("q").alias("qsum")
    )
    ln2 = 0.6931471805599453
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("tot").alias("n_tokens"),
        F.round(
            F.col("jsd_present") + F.lit(0.5 * ln2) * (F.lit(1.0) - F.col("qsum")), 6
        ).alias("jsd"),
    )


def sql_corpus_divergence(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``corpus_divergence`` (same closed-form absent-token
    remainder, same natural-log JSD)."""
    return f"""
    WITH toks AS (
        SELECT {group_col} AS grp, unnest(string_split({text_col}, ' ')) AS token
        FROM {table}
    ),
    sc AS (SELECT grp, token, count(*) AS c FROM toks GROUP BY grp, token),
    g AS (SELECT token, sum(c) AS gc FROM sc GROUP BY token),
    tot AS (SELECT grp, sum(c) AS tot FROM sc GROUP BY grp),
    gt AS (SELECT sum(c) AS g_total FROM sc),
    terms AS (
        SELECT sc.grp, tot.tot,
               CAST(sc.c AS DOUBLE) / tot.tot AS p,
               CAST(g.gc - sc.c AS DOUBLE) / (gt.g_total - tot.tot) AS q
        FROM sc
        JOIN g USING (token)
        JOIN tot USING (grp)
        CROSS JOIN gt
    ),
    agg AS (
        SELECT grp, tot,
               sum(0.5 * p * ln(p / ((p + q) / 2))
                   + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2))
                          ELSE 0.0 END) AS jsd_present,
               sum(q) AS qsum
        FROM terms GROUP BY grp, tot
    )
    SELECT grp AS {group_col}, CAST(tot AS BIGINT) AS n_tokens,
           round(jsd_present + 0.5 * ln(2) * (1.0 - qsum), 6) AS jsd
    FROM agg
    """


# --- BPE tokenizer induction -------------------------------------------------


def bpe_pair_counts(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """The distributed half of BPE tokenizer training: corpus-wide counts
    of adjacent CHARACTER pairs weighted by word frequency — the statistic
    whose argmax is the first merge rule (Sennrich et al. 2016).

    Scale shape, and the reason BPE training is cheap at 100 TB: the
    corpus is scanned ONCE to build the word-frequency table (one
    map-side-combinable groupBy — vocabulary-sized output); pair
    positions then explode over DISTINCT words only, weighted by their
    counts, and a second vocabulary-keyed aggregate yields the pair
    table. No per-document work is ever repeated; a 100 TB corpus with a
    1M-word vocabulary does 1M * avg_len pair emissions after the scan.
    Everything is native (substring arithmetic — an adjacent char pair IS
    ``substring(word, i, 2)``), no Python.

    Returns the top-``k`` rows (pair, n) by (count DESC, pair ASC) — the
    deterministic merge-candidate ranking.
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        F.col("wc"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def sql_bpe_pair_counts(
    table: str = "documents",
    k: int = 50,
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``bpe_pair_counts`` (same word weighting, substring
    pairing, and tie-break)."""
    return f"""
    WITH words AS (
        SELECT w, count(*) AS wc
        FROM (SELECT unnest(string_split({text_col}, ' ')) AS w FROM {table})
        WHERE len(w) >= 2
        GROUP BY w
    ),
    pairs AS (
        SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair, wc
        FROM words
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT {k}
    """


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
) -> "list[tuple[str, str]]":
    """Full BPE merge-rule training (Sennrich et al. 2016), structured the
    way it actually scales: ONE distributed pass builds the
    word-frequency table (vocabulary-sized — the only corpus-dependent
    cost), which is collected once; the ``n_merges`` greedy iterations
    then run over that table driver-side, exactly like reference
    tokenizer trainers (HuggingFace tokenizers / subword-nmt train from
    word counts, not from the corpus). Iterating distributed jobs per
    merge would pay n_merges scheduler round-trips to process a table
    that fits in MBs.

    Deterministic: ties in pair frequency break lexicographically.
    Returns the ordered merge list [(left, right), ...]. Not
    SQL-expressible (iterative greedy state) — unit-tested rather than
    oracle-checked. ``dedup.duplicate_groups`` follows the same rule: its
    min-label rounds run on the driver over the collected pairs, and
    only a pair set past driver memory iterates Spark jobs.
    """
    rows = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        vocab[tuple(r["w"])] = vocab.get(tuple(r["w"]), 0) + int(r["wc"])
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for symbols, wc in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + wc
        if not counts:
            break
        top = max(counts.values())
        pair = min(p for p, c in counts.items() if c == top)
        merges.append(pair)
        merged = pair[0] + pair[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for symbols, wc in vocab.items():
            out = []
            i = 0
            while i < len(symbols):
                if (
                    i + 1 < len(symbols)
                    and symbols[i] == pair[0]
                    and symbols[i + 1] == pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + wc
        vocab = new_vocab
    return merges


# --- character-level entropy (gibberish / compression-artifact signal) -------


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy over CHARACTERS (bits/char) — the
    quality signal the token-level stats miss: binary-in-text, base64
    blobs and encrypted/compressed junk score HIGH (near log2 alphabet),
    single-character spam and padding score NEAR ZERO, natural language
    sits in a stable band (~4-4.5 bits for English). The classic cheap
    gibberish gate (used alongside perplexity, which needs a model;
    entropy needs nothing).

    One Arrow pass (np.unique(return_counts) per doc — character
    frequency via Python-level loops would be the interpreted-HOF trap);
    narrow, zero shuffle. Returns (id_col, n_chars, entropy_bits rounded
    6dp; empty/null docs -> 0.0).
    """

    @F.pandas_udf(T.DoubleType())
    def _ent(texts: pd.Series) -> pd.Series:
        import numpy as np

        def go(t):
            if not t:
                return 0.0
            arr = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            _, counts = np.unique(arr, return_counts=True)
            p = counts / counts.sum()
            return float(-(p * np.log2(p)).sum())

        return texts.map(go)

    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.round(_ent(F.col(text_col)), 6).alias("entropy_bits"),
    )


def sql_char_entropy(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``char_entropy`` (same -sum p log2 p over
    character frequencies; log2 via ln/ln(2))."""
    return f"""
    WITH chars AS (
        SELECT {id_col},
            unnest([{text_col}[i] for i in range(1, len({text_col}) + 1)]) AS ch
        FROM {table}
    ),
    freq AS (
        SELECT {id_col}, ch, count(*) AS c FROM chars GROUP BY {id_col}, ch
    ),
    tot AS (
        SELECT {id_col}, sum(c) AS n FROM freq GROUP BY {id_col}
    ),
    ent AS (
        SELECT f.{id_col},
            -sum((CAST(f.c AS DOUBLE) / t.n)
                 * ln(CAST(f.c AS DOUBLE) / t.n) / ln(2)) AS e
        FROM freq f JOIN tot t USING ({id_col})
        GROUP BY f.{id_col}
    )
    SELECT d.{id_col}, length(d.{text_col}) AS n_chars,
        round(coalesce(e.e, 0.0), 6) AS entropy_bits
    FROM {table} d LEFT JOIN ent e USING ({id_col})
    """


# --- vocabulary growth (Heaps-law curve) ------------------------------------


def vocab_growth(
    df: DataFrame,
    n: int = 2,
    n_shards: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve over ingest shards: for each
    shard s, the cumulative distinct word-``n``-gram vocabulary and the
    cumulative token volume after ingesting shards 0..s.

    The naive formulation re-counts DISTINCT over each growing prefix —
    quadratic in corpus size. The scale rewrite: a gram first enlarges
    the vocabulary exactly at its MINIMUM shard, so one groupBy(gram)
    computing min(shard) + a shard-level cumulative sum yields every
    prefix's distinct count in a single pass. The only ordered step runs
    over ``n_shards`` rows. Shard id is ``id % n_shards`` (deterministic
    round-robin ingest batches at any scale)."""
    from asctb_ct_label_mapper_spark.plans.partitioning import (
        ensure_min_partitions,
    )

    from asctb_ct_label_mapper_spark.operators.dedup import grams_frame

    # The gram stage is CPU-dense; a docs file scanning as 1-2 splits
    # serializes it onto 1-2 cores (r14 probe: the docs10x explode alone
    # cost 7.3 s on a 1-split scan). Widen before the explode; no-op at
    # real-table scale (guide §2.5 input parallelism). Grams come from
    # the zero-copy mapInArrow frame (guide §4.2) — the interpreted
    # transform+slice HOF this replaced was 12x slower at 50k docs.
    df = ensure_min_partitions(df)
    toks = F.split(F.col(text_col), " ")
    grams = grams_frame(
        df.select((F.col(id_col) % n_shards).alias("shard"), F.col(text_col)),
        text_col,
        n,
        "_g",
        dedup=False,
    ).select("shard", F.explode("_g").alias("gram"))
    first_seen = grams.groupBy("gram").agg(F.min("shard").alias("shard"))
    new_per_shard = first_seen.groupBy("shard").agg(
        F.count(F.lit(1)).alias("new_grams")
    )
    # token volume WITHOUT any gram materialization (guide §2.3): the
    # exploded-gram count per doc is exactly max(L - n + 1, 0) for
    # L = size(split(text)) — a null text yields no exploded rows and a
    # NULL size, which the otherwise(0) maps to the same 0 contribution.
    tok_per_shard = df.select(
        (F.col(id_col) % n_shards).alias("shard"),
        F.when(F.size(toks) >= n, F.size(toks) - (n - 1))
        .otherwise(F.lit(0))
        .alias("_ng"),
    ).groupBy("shard").agg(F.sum("_ng").alias("n_grams"))
    # exact parity with the exploded-count formulation: a shard whose
    # docs ALL have zero grams produced no exploded rows, hence no row
    # in the original aggregate — not a 0-row
    tok_per_shard = tok_per_shard.filter(F.col("n_grams") > 0)
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_per_shard.join(new_per_shard, "shard", "left")
        .select(
            "shard",
            F.coalesce("new_grams", F.lit(0)).alias("new_grams"),
            F.col("n_grams"),
        )
        .select(
            "shard",
            "new_grams",
            F.sum("new_grams").over(w).alias("vocab_size"),
            F.sum("n_grams").over(w).alias("corpus_grams"),
        )
    )


def sql_vocab_growth(
    table: str = "documents",
    n: int = 2,
    n_shards: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``vocab_growth`` (same single-space split, same
    first-seen-shard rewrite)."""
    return f"""
    WITH toks AS (
        SELECT {id_col} % {n_shards} AS shard,
            string_split({text_col}, ' ') AS t
        FROM {table}
    ),
    grams AS (
        SELECT shard, array_to_string(t[i:i+{n - 1}], ' ') AS gram
        FROM toks, unnest(generate_series(1, len(t) - {n} + 1)) AS g(i)
    ),
    first_seen AS (SELECT gram, min(shard) AS shard FROM grams GROUP BY gram),
    new_per_shard AS (
        SELECT shard, count(*) AS new_grams FROM first_seen GROUP BY shard
    ),
    tok_per_shard AS (
        SELECT shard, count(*) AS n_grams FROM grams GROUP BY shard
    )
    SELECT t.shard, coalesce(n.new_grams, 0) AS new_grams,
        CAST(sum(coalesce(n.new_grams, 0)) OVER w AS BIGINT) AS vocab_size,
        CAST(sum(t.n_grams) OVER w AS BIGINT) AS corpus_grams
    FROM tok_per_shard t LEFT JOIN new_per_shard n USING (shard)
    WINDOW w AS (ORDER BY t.shard ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """


def vocab_growth_sketch(
    df: DataFrame,
    n: int = 2,
    n_shards: int = 10,
    k: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    gate_fraction: float = 0.05,
    prefilter_min_pairs: int = 500_000,
) -> DataFrame:
    """Approximate vocabulary-growth curve via mergeable per-shard KMV
    sketches — the 100x-tier flavor of :func:`vocab_growth` (r10
    verdict #5). The exact operator's one unavoidable heavy stage is
    the exact-distinct shuffle of the full gram stream (groupBy(gram)
    min(shard) — 5.7 s at docs10x, excluded from docs100x); here each
    shard keeps only its k smallest distinct gram hashes
    (``sketches.kmv_sketch_by`` — threshold-prefiltered, so the
    distinct touches ~safety·k survivors per shard, not the gram
    stream), and every PREFIX estimate is a re-cut of the union of its
    shards' sketches (bottom-k of a union == bottom-k of the unions'
    bottom-ks — exact set algebra, the approximation lives only in the
    (k−1)·D/h_k estimator).

    Everything past the sketch build is parameter-sized
    (n_shards · k rows): the prefix spine join, the per-prefix re-rank,
    and the estimator. Token volume stays EXACT (a combinable count —
    no distinct involved). Deterministic md5 arithmetic end-to-end, so
    the DuckDB oracle replays it hash-for-hash.

    ONE gram-stream scan (r12 verdict #1 — was TWO): the prefilter's
    cardinality gate used to re-explode the full ~1e8-row gram stream
    just to size the keep-threshold (29-32 s of the 91-93 s docs100x
    tier).  Now the gate reads a ``gate_fraction`` DOC-level sample
    exploded separately (``kmv_sketch_by(gate_df=...)``): the sampled
    per-shard estimate only UNDERESTIMATES, so the threshold only
    GROWS (Heaps' law puts the 5% sample's vocab at ~20-25% of the
    full vocab → ~4-5·safety·k survivors per shard instead of
    safety·k — still parameter-sized), the kept>=k guard still checks
    exactness loudly, and the full explode now runs exactly once (the
    sketch build).  ``gate_fraction=None``/1.0 restores the full-scan
    gate.  The RESULT is gate-independent: thresholds decide only how
    much the prefilter cuts, never which bottom-k survives.

    Returns (shard, n_kept, vocab_estimate, corpus_grams) — one row
    per ingest prefix."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        _KMV_DOMAIN,
        kmv_sketch_by,
    )
    from asctb_ct_label_mapper_spark.plans.partitioning import (
        ensure_min_partitions,
    )

    from asctb_ct_label_mapper_spark.operators.dedup import grams_frame

    # Same widening as the exact flavor (r14): the sketch build and the
    # gate sample are the CPU-dense gram stages; a 1-2-split docs scan
    # serializes them. Grams come from the zero-copy mapInArrow frame
    # (guide §4.2) — this replaced the interpreted transform+slice HOF.
    df = ensure_min_partitions(df)
    toks = F.split(F.col(text_col), " ")
    sharded = df.select(
        (F.col(id_col) % n_shards).alias("shard"), F.col(text_col)
    )
    grams = grams_frame(sharded, text_col, n, "_g", dedup=False).select(
        "shard", F.explode("_g").alias("gram")
    )
    # token volume WITHOUT the explode or any gram materialization
    # (guide §2.3): the per-doc gram count is exactly max(L - n + 1, 0)
    # for L = size(split(text)) — same 0 for null/short texts as
    # size(empty gram array). The explode otherwise materializes a
    # second time just to be counted (measured 49 s at docs100x with
    # the double explode; the sketch build is the only remaining
    # gram-stream consumer).
    tok_per_shard = (
        df.select(
            (F.col(id_col) % n_shards).alias("shard"),
            F.when(F.size(toks) >= n, F.size(toks) - (n - 1))
            .otherwise(F.lit(0))
            .alias("_ng"),
        )
        .groupBy("shard")
        .agg(F.sum("_ng").alias("n_grams"))
    )
    gate_df = None
    gate_scale = 1.0
    if gate_fraction is not None and 0.0 < gate_fraction < 1.0:
        gate_df = grams_frame(
            sharded.sample(fraction=gate_fraction, seed=7),
            text_col,
            n,
            "_g",
            dedup=False,
        ).select("shard", F.explode("_g").alias("gram"))
        gate_scale = 1.0 / gate_fraction
    sk = kmv_sketch_by(
        grams, ["shard"], "gram", k=k,
        prefilter_min_pairs=prefilter_min_pairs,
        gate_df=gate_df, gate_scale=gate_scale,
    )
    # prefix merge: shard s's vocabulary state is the union of sketches
    # 0..s, re-cut to k — a broadcast spine join over parameter-sized
    # frames (n_shards * k rows before the distinct)
    spine = tok_per_shard.select(F.col("shard").alias("s"))
    merged = (
        sk.join(F.broadcast(spine), F.col("shard") <= F.col("s"))
        .select("s", "h")
        .distinct()
    )
    w = Window.partitionBy("s").orderBy("h")
    cut = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    est = cut.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("_hk")
    )
    vocab_est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("_hk").cast("double")
    )
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_per_shard.join(est, F.col("shard") == F.col("s"))
        .select(
            "shard",
            "n_kept",
            F.round(vocab_est, 4).alias("vocab_estimate"),
            F.sum("n_grams").over(w_sh).alias("corpus_grams"),
        )
    )


def sql_vocab_growth_sketch(
    table: str = "documents",
    n: int = 2,
    n_shards: int = 10,
    k: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``vocab_growth_sketch`` (same md5-prefix hash,
    same per-shard bottom-k, same prefix re-cut and estimator)."""
    from asctb_ct_label_mapper_spark.operators.sketches import _KMV_DOMAIN

    return f"""
    WITH toks AS (
        SELECT {id_col} % {n_shards} AS shard,
            string_split({text_col}, ' ') AS t
        FROM {table}
    ),
    grams AS (
        SELECT shard, array_to_string(t[i:i+{n - 1}], ' ') AS gram
        FROM toks, unnest(generate_series(1, len(t) - {n} + 1)) AS g(i)
    ),
    hashes AS (
        SELECT DISTINCT shard,
            CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
        FROM grams
    ),
    sk AS (
        SELECT shard, h FROM (
            SELECT shard, h,
                row_number() OVER (PARTITION BY shard ORDER BY h) AS rn
            FROM hashes
        ) WHERE rn <= {k}
    ),
    tok_per_shard AS (
        SELECT shard, count(*) AS n_grams FROM grams GROUP BY shard
    ),
    merged AS (
        SELECT DISTINCT sp.shard AS s, sk.h
        FROM sk JOIN (SELECT shard FROM tok_per_shard) sp
            ON sk.shard <= sp.shard
    ),
    cut AS (
        SELECT s, h FROM (
            SELECT s, h,
                row_number() OVER (PARTITION BY s ORDER BY h) AS rn
            FROM merged
        ) WHERE rn <= {k}
    ),
    est AS (
        SELECT s, count(*) AS n_kept, max(h) AS hk FROM cut GROUP BY s
    )
    SELECT t.shard, CAST(e.n_kept AS BIGINT) AS n_kept,
        round(CASE WHEN e.n_kept < {k} THEN CAST(e.n_kept AS DOUBLE)
              ELSE {float(k - 1)} * {_KMV_DOMAIN}
                   / CAST(e.hk AS DOUBLE) END, 4) AS vocab_estimate,
        CAST(sum(t.n_grams) OVER (ORDER BY t.shard
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS corpus_grams
    FROM tok_per_shard t JOIN est e ON t.shard = e.s
    """


def zipf_fit(df: DataFrame, text_col: str = "text", top_n: int = 1000) -> DataFrame:
    """Zipf's-law fit over the corpus frequency spectrum: least-squares
    slope/intercept of ln(freq) against ln(rank) for the ``top_n`` most
    frequent whitespace tokens (a healthy natural-language corpus sits
    near slope -1; synthetic or template-heavy corpora flatten — a cheap
    corpus-health gate next to the Heaps-law curve).

    Plan: one token explode + combinable count, a TakeOrderedAndProject
    top-n cut (deterministic (count desc, token asc) order), then a
    single window + regression over the PARAMETER-sized top-n frame and
    one closed-form aggregate — nothing data-sized past the count.

    Returns one row (n_ranks, slope, intercept), 6dp (the sums' partition
    order differs across engines at the last ulp)."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(top_n)
    ranked = top.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("w")))
            .cast("double")
        ).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # try_divide: a single-rank frame (one distinct token, or top_n=1)
    # makes the variance denominator exactly 0 — the ANSI session would
    # raise DIVIDE_BY_ZERO where the oracle's nullif degrades to NULL
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    intercept = F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n"))
    return agg.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def sql_zipf_fit(
    table: str = "documents", text_col: str = "text", top_n: int = 1000
) -> str:
    """DuckDB replay of ``zipf_fit`` (same tokenizer, same deterministic
    top-n cut, same closed-form regression)."""
    return f"""
    WITH tok AS (
        SELECT unnest(string_split({text_col}, ' ')) AS w FROM {table}
    ), counts AS (
        SELECT w, count(*) AS c FROM tok GROUP BY w
    ), top AS (
        SELECT w, c FROM counts ORDER BY c DESC, w ASC LIMIT {top_n}
    ), ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS DOUBLE)) AS x,
               ln(CAST(c AS DOUBLE)) AS y
        FROM top
    ), agg AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
        round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 6)
            AS slope,
        round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)
               * sx) / nullif(n, 0.0), 6) AS intercept
    FROM agg
    """


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise-mutual-information collocations: adjacent word pairs
    scored by pmi = log2(p(xy) / (p(x)·p(y))) — the phrase-mining
    primitive ("New York" binds; "of the" doesn't). Space tokenization
    (the corpus contract shared with text_stats).

    One scan explodes bigrams, one explodes unigrams; both count
    tables are VOCABULARY-sized (bigram space ≤ |V|², independent of
    corpus rows), so the scoring joins are broadcast-sized at any
    corpus scale. p(xy) margins use the bigram total, p(x) the unigram
    total — the textbook estimator. Pairs below ``min_count`` drop
    (PMI's low-frequency pathology)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.filter(F.size(toks) >= 2).select(toks.alias("t"))
    bigrams = (
        base.select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(t)), "
                    "i -> struct(t[i-2] AS w1, t[i-1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    unigrams = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_bi = bigrams.agg(F.sum("n").alias("_nb"))
    n_uni = unigrams.agg(F.sum("c").alias("_nu"))
    u1 = unigrams.select(F.col("w").alias("w1"), F.col("c").alias("_c1"))
    u2 = unigrams.select(F.col("w").alias("w2"), F.col("c").alias("_c2"))
    scored = (
        bigrams.filter(F.col("n") >= min_count)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
    )
    p_xy = F.col("n").cast("double") / F.col("_nb").cast("double")
    p_x = F.col("_c1").cast("double") / F.col("_nu").cast("double")
    p_y = F.col("_c2").cast("double") / F.col("_nu").cast("double")
    return scored.select(
        "w1",
        "w2",
        "n",
        F.round(F.log2(p_xy / (p_x * p_y)), 6).alias("pmi"),
    )


def sql_pmi_collocations(
    table: str = "documents",
    text_col: str = "text",
    min_count: int = 5,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``pmi_collocations`` (same tokenization, same
    margins, same log2 arithmetic)."""
    return f"""
    WITH toks AS (
        SELECT string_split({text_col}, ' ') AS t
        FROM {table} WHERE {where}
    ), bi AS (
        SELECT t[i - 1] AS w1, t[i] AS w2, count(*) AS n
        FROM (
            SELECT t, unnest(generate_series(2, len(t))) AS i
            FROM toks WHERE len(t) >= 2
        ) GROUP BY 1, 2
    ), uni AS (
        SELECT unnest(t) AS w FROM toks
    ), uc AS (
        SELECT w, count(*) AS c FROM uni GROUP BY 1
    ), nb AS (SELECT sum(n) AS nb FROM bi),
    nu AS (SELECT sum(c) AS nu FROM uc)
    SELECT w1, w2, CAST(n AS BIGINT) AS n,
        round(log2((CAST(n AS DOUBLE) / CAST(nb AS DOUBLE))
                   / ((CAST(u1.c AS DOUBLE) / CAST(nu AS DOUBLE))
                      * (CAST(u2.c AS DOUBLE) / CAST(nu AS DOUBLE)))),
              6) AS pmi
    FROM bi JOIN uc u1 ON bi.w1 = u1.w
    JOIN uc u2 ON bi.w2 = u2.w, nb, nu
    WHERE n >= {min_count}
    """


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
    min_count: int = 2,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word-adjacency graph — nodes are whitespace tokens, an
    undirected edge joins words that appear consecutively, weighted by
    corpus-wide adjacency count (thresholded at ``min_count`` — the
    standard sparsifier), ranks from the shared :func:`graph.pagerank`
    driver fold (its bounded collect raises ``GroupBoundExceeded`` past
    ``graph.LOCAL_EDGE_ROWS`` symmetrized edges), top ``top_n`` words
    by (rounded) rank with lexical tie-break.

    Plan: one token-adjacency explode + combinable pair count (the
    only corpus-sized stage), then everything runs on the
    VOCABULARY-grain edge list. The node-count probe is one eager
    count (the `negative_samples` count-probe precedent): both engines
    must agree on N exactly, and the oracle derives it in-query."""
    from asctb_ct_label_mapper_spark.operators.graph import pagerank

    # adjacent pairs NATIVELY: zip the token array against itself
    # shifted by one (two slices) — arrays_zip/slice stay in codegen,
    # where the previous transform/element_at lambda chain evaluated
    # interpreted per element (r11 bench: the corpus-sized stage
    # dominated textrank's wall at 60k docs)
    toks = F.split(F.col(text_col), " ")
    pairs = F.when(
        F.size(toks) >= 2,
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1).alias("a"),
            F.slice(toks, 2, F.size(toks) - 1).alias("b"),
        ),
    )
    adj = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(
            (F.col("a") != F.col("b"))
            & (F.length("a") > 0)
            & (F.length("b") > 0)
        )
    )
    e0 = (
        adj.select(
            F.least("a", "b").alias("s"), F.greatest("a", "b").alias("d")
        )
        .groupBy("s", "d")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_count)
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    e0 = pooled_persist(e0)  # both union branches + the node count
    edges = e0.select(
        F.col("s").alias("src"), F.col("d").alias("dst"), "w"
    ).unionAll(
        e0.select(F.col("d").alias("src"), F.col("s").alias("dst"), "w")
    )
    # undirected: every node appears as a src
    n_nodes = edges.select("src").distinct().count()
    if n_nodes == 0:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "word string, pr double"
        )
    pr = pagerank(edges, n_nodes, damping, iters)
    return (
        pr.orderBy(F.desc("pr"), F.asc("node"))
        .limit(top_n)
        .select(F.col("node").alias("word"), "pr")
    )


def sql_textrank_keywords(
    table: str = "documents",
    text_col: str = "text",
    top_n: int = 20,
    min_count: int = 2,
    damping: float = 0.85,
    iters: int = 10,
) -> str:
    """DuckDB replay of ``textrank_keywords`` (same adjacency graph,
    same unrolled recurrence via ``sql_pagerank_dynamic``, same
    rounded-rank ordering)."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_pagerank_dynamic,
    )

    pr_body = sql_pagerank_dynamic(damping, iters)
    tail = f"SELECT node, round(r, 6) AS pr FROM r{int(iters)}"
    assert pr_body.rstrip().endswith(tail)
    ctes = pr_body[: pr_body.rfind(tail)].rstrip()
    return f"""
    WITH toks AS (
        SELECT string_split({text_col}, ' ') AS t FROM {table}
    ),
    adj AS (
        SELECT t[i] AS a, t[i+1] AS b
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    ),
    e0 AS (
        SELECT least(a, b) AS s, greatest(a, b) AS d, count(*) AS w
        FROM adj
        WHERE a <> b AND len(a) > 0 AND len(b) > 0
        GROUP BY 1, 2 HAVING count(*) >= {int(min_count)}
    ),
    edges AS (
        SELECT s AS src, d AS dst, w FROM e0
        UNION ALL SELECT d, s, w FROM e0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    {ctes}
    SELECT node AS word, round(r, 6) AS pr FROM r{int(iters)}
    ORDER BY pr DESC, word LIMIT {int(top_n)}
    """


def script_profile(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Character-class composition per group: average per-document
    fractions of ASCII letters, digits, spaces, and everything else —
    the cheap encoding/garbage/mojibake detector a corpus audit runs
    next to language ID (a 'en' shard whose letter fraction collapses
    is mislabeled or binary-polluted).

    Counting idiom shared verbatim with the oracle:
    ``length(regexp_replace(text, '[^CLASS]', ''))`` — the
    Java/RE2-common character-class subset, the pii_scrub contract.
    One scan, one group-dimension aggregate; empty docs are excluded
    (no denominator)."""
    n = F.length(text_col).cast("double")

    def frac(pat: str) -> Column:
        return (
            F.length(F.regexp_replace(F.col(text_col), pat, ""))
            .cast("double")
            / n
        )
    f_alpha = frac("[^A-Za-z]")
    f_digit = frac("[^0-9]")
    f_space = frac("[^ ]")
    base = df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )
    return (
        base.select(
            F.col(group_col).alias("grp"),
            f_alpha.alias("_a"),
            f_digit.alias("_d"),
            f_space.alias("_s"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_a"), 6).alias("frac_alpha"),
            F.round(F.avg("_d"), 6).alias("frac_digit"),
            F.round(F.avg("_s"), 6).alias("frac_space"),
            # +0.0: the residual average rounds to NEGATIVE zero when
            # the classes cover everything (float cancellation) and
            # -0.0 vs 0.0 hash-diverges across engines (standing trap)
            (
                F.round(
                    F.avg(
                        F.lit(1.0) - F.col("_a") - F.col("_d") - F.col("_s")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("frac_other"),
        )
    )


def sql_script_profile(
    table: str = "documents",
    group_col: str = "lang",
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``script_profile`` (same regexp_replace
    char-class counting, same per-doc fractions)."""
    return f"""
    WITH per_doc AS (
        SELECT {group_col} AS grp,
            CAST(len(regexp_replace({text_col}, '[^A-Za-z]', '', 'g'))
                 AS DOUBLE) / len({text_col}) AS a,
            CAST(len(regexp_replace({text_col}, '[^0-9]', '', 'g'))
                 AS DOUBLE) / len({text_col}) AS d,
            CAST(len(regexp_replace({text_col}, '[^ ]', '', 'g'))
                 AS DOUBLE) / len({text_col}) AS s
        FROM {table}
        WHERE {text_col} IS NOT NULL AND len({text_col}) > 0
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
        round(avg(a), 6) AS frac_alpha,
        round(avg(d), 6) AS frac_digit,
        round(avg(s), 6) AS frac_space,
        round(avg(1.0 - a - d - s), 6) + 0.0 AS frac_other
    FROM per_doc GROUP BY grp
    """


def readability_by_lang(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language Flesch-reading-ease profile with a deterministic
    syllable PROXY (vowel-group runs ``[aeiouy]+`` over the lowercased
    text — the standard cheap stand-in; real hyphenation dictionaries
    are engine-external). The curation readout: a language whose
    average score collapses flags boilerplate/gibberish inflow before
    any model sees it.

        flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)

    W = non-space token count, S = sentence-punctuation runs
    ``[.!?]+`` floored at 1 (punctuation-free docs are one sentence),
    Syl = vowel-group runs. Documents with zero words are excluded.

    Plan: three regexp_count projections inside one narrow scan — no
    Generate/explode, zero shuffle before the lang-grain fold. Returns
    (lang, n_docs, avg_words, avg_wps, avg_flesch), 6dp."""
    words = F.regexp_count(F.col(text_col), F.lit(r"[^ ]+"))
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    )
    syls = F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"))
    scored = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(lang_col).alias("lang"),
            words.cast("double").alias("w"),
            sents.cast("double").alias("s"),
            syls.cast("double").alias("sy"),
        )
        .filter(F.col("w") > 0)
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("w") / F.col("s"))
        - 84.6 * (F.col("sy") / F.col("w"))
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("w"), 6).alias("avg_words"),
        F.round(F.avg(F.col("w") / F.col("s")), 6).alias("avg_wps"),
        F.round(F.avg(flesch), 6).alias("avg_flesch"),
    )


def sql_readability_by_lang(table: str = "documents") -> str:
    """DuckDB replay of :func:`readability_by_lang` — same regex
    classes (RE2/DuckDB and Java agree on these literal classes), same
    floors, divisions last."""
    return f"""
    WITH scored AS (
        SELECT lang,
            CAST(len(regexp_extract_all(text, '[^ ]+')) AS DOUBLE) AS w,
            CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                 AS DOUBLE) AS s,
            CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 AS DOUBLE) AS sy
        FROM {table} WHERE text IS NOT NULL
    )
    SELECT lang, count(*) AS n_docs,
        round(avg(w), 6) AS avg_words,
        round(avg(w / s), 6) AS avg_wps,
        round(avg(206.835 - 1.015 * (w / s) - 84.6 * (sy / w)), 6)
            AS avg_flesch
    FROM scored WHERE w > 0
    GROUP BY 1
    """


def oov_rate_by_group(
    df: DataFrame,
    ref_group: str,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary rate per group against a REFERENCE group's
    vocabulary: what fraction of each source's token OCCURRENCES never
    appears in the reference — the tokenizer-coverage / domain-shift
    probe run before committing a vocab trained on one slice to the
    whole corpus.

    Plan: one tokenized pass builds (group, token, count) cells
    (combinable — the explode collapses map-side); the reference
    vocabulary is the cells' ref slice (distinct tokens), joined back
    LEFT so unseen tokens count as OOV; everything past the cell fold
    is vocabulary-sized. Returns (group, total_tokens, oov_tokens,
    oov_rate) for non-reference groups, 6dp."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    cells = pooled_persist(
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ref_vocab = (
        cells.filter(F.col("g") == ref_group)
        .select("tok")
        .distinct()
        .withColumn("_in_ref", F.lit(1))
    )
    probe = cells.filter(F.col("g") != ref_group).join(
        ref_vocab, "tok", "left"
    )
    return probe.groupBy("g").agg(
        F.sum("c").alias("total_tokens"),
        F.sum(F.when(F.col("_in_ref").isNull(), F.col("c")).otherwise(0)).alias(
            "oov_tokens"
        ),
    ).select(
        F.col("g").alias(group_col),
        "total_tokens",
        "oov_tokens",
        F.round(
            F.col("oov_tokens") / F.col("total_tokens"), 6
        ).alias("oov_rate"),
    )


def sql_oov_rate_by_group(
    ref_group: str,
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`oov_rate_by_group` — same tokenization
    (space split, empties dropped), same left-join OOV census."""
    return f"""
    WITH cells AS (
        SELECT {group_col} AS g, tok, count(*) AS c
        FROM (
            SELECT {group_col},
                unnest(string_split({text_col}, ' ')) AS tok
            FROM {table} WHERE {text_col} IS NOT NULL
        )
        WHERE tok <> ''
        GROUP BY 1, 2
    ), ref_vocab AS (
        SELECT DISTINCT tok FROM cells WHERE g = '{ref_group}'
    )
    SELECT cells.g AS {group_col},
        sum(c) AS total_tokens,
        sum(CASE WHEN ref_vocab.tok IS NULL THEN c ELSE 0 END)
            AS oov_tokens,
        round(sum(CASE WHEN ref_vocab.tok IS NULL THEN c ELSE 0 END)
              * 1.0 / sum(c), 6) AS oov_rate
    FROM cells LEFT JOIN ref_vocab ON cells.tok = ref_vocab.tok
    WHERE cells.g <> '{ref_group}'
    GROUP BY 1
    """


def lexical_diversity_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Lexical diversity per group: type-token ratio (distinct tokens /
    total occurrences) and the hapax-legomena share (fraction of the
    vocabulary seen exactly once) — the pointwise companions to the
    vocab_growth Heaps curve, and the fast tell for templated /
    machine-generated slices (low TTR, thin hapax tail).

    Plan: ONE combinable (group, token, count) cell fold (the OOV
    operator's shape); both readouts are cell re-aggregations —
    vocabulary-sized past the fold. Returns (group, total_tokens,
    distinct_tokens, hapax, ttr, hapax_share), 6dp."""
    cells = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cells.groupBy("g").agg(
        F.sum("c").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
    ).select(
        F.col("g").alias(group_col),
        "total_tokens",
        "distinct_tokens",
        "hapax",
        F.round(
            F.col("distinct_tokens") / F.col("total_tokens"), 6
        ).alias("ttr"),
        F.round(F.col("hapax") / F.col("distinct_tokens"), 6).alias(
            "hapax_share"
        ),
    )


def sql_lexical_diversity_by_group(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`lexical_diversity_by_group` — same
    tokenization, same cell fold."""
    return f"""
    WITH cells AS (
        SELECT {group_col} AS g, tok, count(*) AS c
        FROM (
            SELECT {group_col},
                unnest(string_split({text_col}, ' ')) AS tok
            FROM {table} WHERE {text_col} IS NOT NULL
        )
        WHERE tok <> ''
        GROUP BY 1, 2
    )
    SELECT g AS {group_col},
        sum(c) AS total_tokens,
        count(*) AS distinct_tokens,
        sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
        round(count(*) * 1.0 / sum(c), 6) AS ttr,
        round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
              6) AS hapax_share
    FROM cells
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# r12: pairwise source vocabulary overlap
# ---------------------------------------------------------------------------

def vocab_overlap_sources(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise VOCABULARY Jaccard between sources — "which corpus
    slices speak the same language": the mixture-design companion of
    ``corpus_divergence`` (which compares frequency DISTRIBUTIONS; this
    compares type SETS — a source can share every common word yet
    contribute zero new vocabulary, and only the set view shows it).
    Also reported: directed containment |A∩B|/|A| for the smaller-side
    reading (a subcorpus wholly inside another).

    Plan: ONE scan builds the distinct (source, token) census
    (map-side-combinable distinct); the intersection is an equi-join on
    token over that census — per-token fan-out bounded by n_sources²,
    work ∝ token co-occurrence, never |vocab|·|sources|²; sizes
    broadcast.  Output (source_a, source_b, n_common, jaccard,
    containment_a_in_b), source_a < source_b, 6dp."""
    toks = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(source_col).isNotNull()
        )
        .select(
            F.col(source_col).alias("src"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = toks.select(F.col("src").alias("source_a"), "tok")
    b = toks.select(F.col("src").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("n").alias("_nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common").cast("double") / F.col("_na").cast("double"),
                6,
            ).alias("containment_a_in_b"),
        )
    )


def sql_vocab_overlap_sources(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """DuckDB replay of ``vocab_overlap_sources`` (same single-space
    split, same empty-token drop, same ordered pair join)."""
    return f"""
    WITH toks AS (
        SELECT DISTINCT {source_col} AS src, tok
        FROM (
            SELECT {source_col},
                unnest(string_split({text_col}, ' ')) AS tok
            FROM {table}
            WHERE {text_col} IS NOT NULL AND {source_col} IS NOT NULL
        ) WHERE tok <> ''
    ), sizes AS (
        SELECT src, count(*) AS n FROM toks GROUP BY 1
    ), inter AS (
        SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_common
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.src < b.src
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_common AS BIGINT) AS n_common,
        round(CAST(n_common AS DOUBLE)
              / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard,
        round(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
            AS containment_a_in_b
    FROM inter
    JOIN sizes sa ON inter.source_a = sa.src
    JOIN sizes sb ON inter.source_b = sb.src
    """


# ---------------------------------------------------------------------------
# r12e: Monroe-Colaresi-Quinn weighted log-odds — distinctive terms
# ---------------------------------------------------------------------------


def monroe_logodds(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    alpha0: float = 1000.0,
    top_k: int = 3,
) -> DataFrame:
    """Per-group DISTINCTIVE terms via the Monroe-Colaresi-Quinn
    ("Fightin' Words") weighted log-odds with an informative Dirichlet
    prior: for each (group, token), the log-odds of the token in the
    group vs the REST of the corpus, shrunk toward the corpus-wide
    distribution and standardized by its approximate variance —

        δ = ln((y_gi+a_i)/(n_g+α0−y_gi−a_i))
          − ln((y_ri+a_i)/(n_r+α0−y_ri−a_i)),   a_i = α0·y_i/N
        z = δ / √(1/(y_gi+a_i) + 1/(y_ri+a_i))

    The token-level companion to :func:`corpus_divergence`'s scalar JSD
    (WHICH tokens make a source drift, not just how far), with the
    prior damping the rare-word noise raw log-ratios amplify.

    Plan: ONE (group, token) cell fold off the token stream (the
    lexical_diversity shape — the only corpus-scale shuffle), a
    token-grain global re-aggregate joined back on token, and a per-
    group rank window at cell grain. Only tokens PRESENT in the group
    are candidates (a token absent from g has z < 0 — never top-k
    overrepresented). Returns the ``top_k`` rows per group by (z desc,
    token asc — deterministic), (group, token, y_gi, z), 6dp."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    cells = pooled_persist(
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("y_gi"))
    )
    tok_tot = cells.groupBy("tok").agg(F.sum("y_gi").alias("y_i"))
    grp_tot = cells.groupBy("g").agg(F.sum("y_gi").alias("n_g"))
    grand = cells.agg(F.sum("y_gi").alias("N"))
    full = (
        cells.join(tok_tot, "tok")
        .join(grp_tot, "g")
        .crossJoin(F.broadcast(grand))
    )
    a_i = F.lit(alpha0) * F.col("y_i") / F.col("N")
    y_g = F.col("y_gi").cast("double")
    y_r = (F.col("y_i") - F.col("y_gi")).cast("double")
    n_g = F.col("n_g").cast("double")
    n_r = (F.col("N") - F.col("n_g")).cast("double")
    delta = F.log(
        (y_g + a_i) / (n_g + F.lit(alpha0) - y_g - a_i)
    ) - F.log((y_r + a_i) / (n_r + F.lit(alpha0) - y_r - a_i))
    z = delta / F.sqrt(
        1.0 / (y_g + a_i) + 1.0 / (y_r + a_i)
    )
    scored = full.select(
        "g", "tok", "y_gi", F.round(z, 6).alias("z")
    )
    w = Window.partitionBy("g").orderBy(
        F.col("z").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .select(
            F.col("g").alias(group_col),
            F.col("tok").alias("token"),
            F.col("y_gi").alias("count_in_group"),
            "z",
        )
    )


def sql_monroe_logodds(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    alpha0: float = 1000.0,
    top_k: int = 3,
) -> str:
    """DuckDB replay of :func:`monroe_logodds` — same cells, prior,
    variance, and deterministic rank order."""
    return f"""
    WITH cells AS (
        SELECT {group_col} AS g, tok, count(*) AS y_gi
        FROM (
            SELECT {group_col},
                unnest(string_split({text_col}, ' ')) AS tok
            FROM {table} WHERE {text_col} IS NOT NULL
        ) WHERE tok <> '' GROUP BY 1, 2
    ), tok_tot AS (
        SELECT tok, sum(y_gi) AS y_i FROM cells GROUP BY 1
    ), grp_tot AS (
        SELECT g, sum(y_gi) AS n_g FROM cells GROUP BY 1
    ), grand AS (SELECT sum(y_gi) AS N FROM cells),
    scored AS (
        SELECT c.g, c.tok, c.y_gi,
            round((
                ln((c.y_gi + {alpha0!r} * t.y_i / gd.N)
                   / (gt.n_g + {alpha0!r} - c.y_gi
                      - {alpha0!r} * t.y_i / gd.N))
                - ln(((t.y_i - c.y_gi) + {alpha0!r} * t.y_i / gd.N)
                     / ((gd.N - gt.n_g) + {alpha0!r}
                        - (t.y_i - c.y_gi)
                        - {alpha0!r} * t.y_i / gd.N))
            ) / sqrt(1.0 / (c.y_gi + {alpha0!r} * t.y_i / gd.N)
                     + 1.0 / ((t.y_i - c.y_gi)
                              + {alpha0!r} * t.y_i / gd.N)), 6) AS z
        FROM cells c
        JOIN tok_tot t ON c.tok = t.tok
        JOIN grp_tot gt ON c.g = gt.g
        CROSS JOIN grand gd
    )
    SELECT g AS {group_col}, tok AS token, y_gi AS count_in_group, z
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY g ORDER BY z DESC, tok ASC) AS _rk
        FROM scored
    ) WHERE _rk <= {top_k}
    """


# ---------------------------------------------------------------------------
# r12e: pairwise earth-mover's distance between length distributions
# ---------------------------------------------------------------------------


def emd_length_matrix(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Pairwise 1-D earth-mover's (Wasserstein-1) distance between
    every two groups' document-LENGTH distributions:

        W1(P,Q) = ∫ |F_P(x) − F_Q(x)| dx
                = Σ_v |F_P(v) − F_Q(v)| · (next(v) − v)

    exact on the discrete support — the transport-cost complement to
    :func:`corpus_divergence`'s JSD (W1 sees HOW FAR mass moved along
    the length axis, not just that it moved; two sources whose length
    modes differ by 10 vs 1000 chars have similar JSD but wildly
    different W1). The distribution-shift gauge for "did this feed
    start sending much longer documents".

    Plan: one fact pass to (group, len) counts; the support spine
    (distinct lens × groups) is dimension-grain, per-group CDFs are
    cumulative windows PARTITIONED BY GROUP, and the pair census joins
    the spine to itself on len for group_a < group_b — |V|·G² rows at
    worst, all dimension-sized. Returns (group_a, group_b, emd), 6dp,
    one row per unordered pair."""
    from pyspark.sql import Window

    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    counts = pooled_persist(
        df.filter(F.col(len_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("g"), F.col(len_col).alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = counts.select("v").distinct()
    groups = counts.select("g").distinct()
    spine = grid.crossJoin(groups).join(
        counts, ["g", "v"], "left"
    ).select("g", "v", F.coalesce("c", F.lit(0)).alias("c"))
    w_cdf = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = counts.groupBy("g").agg(F.sum("c").alias("t"))
    cdf = (
        spine.withColumn("cum", F.sum("c").over(w_cdf))
        .join(tot, "g")
        .select(
            "g", "v", (F.col("cum") / F.col("t")).alias("f")
        )
    )
    w_next = Window.partitionBy("g").orderBy("v")
    stepped = cdf.withColumn(
        "gap",
        (F.lead("v").over(w_next) - F.col("v")).cast("double"),
    ).filter(F.col("gap").isNotNull())
    a, b = stepped.alias("a"), stepped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("group_a"), F.col("b.g").alias("group_b")
        )
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("a.f") - F.col("b.f")) * F.col("a.gap")
                ),
                6,
            ).alias("emd")
        )
    )


def sql_emd_length_matrix(
    table: str = "documents",
    group_col: str = "source",
    len_col: str = "n_chars",
) -> str:
    """DuckDB replay of :func:`emd_length_matrix` — same spine, CDFs,
    step integration, and pair census."""
    return f"""
    WITH counts AS (
        SELECT {group_col} AS g, {len_col} AS v, count(*) AS c
        FROM {table} WHERE {len_col} IS NOT NULL GROUP BY 1, 2
    ), spine AS (
        SELECT gr.g, vv.v, coalesce(counts.c, 0) AS c
        FROM (SELECT DISTINCT v FROM counts) vv
        CROSS JOIN (SELECT DISTINCT g FROM counts) gr
        LEFT JOIN counts ON counts.g = gr.g AND counts.v = vv.v
    ), tot AS (
        SELECT g, sum(c) AS t FROM counts GROUP BY 1
    ), cdf AS (
        SELECT spine.g, spine.v,
            sum(spine.c) OVER (PARTITION BY spine.g ORDER BY spine.v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                / CAST(tot.t AS DOUBLE) AS f
        FROM spine JOIN tot ON spine.g = tot.g
    ), stepped AS (
        SELECT g, v, f,
            CAST(lead(v) OVER (PARTITION BY g ORDER BY v) - v
                 AS DOUBLE) AS gap
        FROM cdf
    )
    SELECT a.g AS group_a, b.g AS group_b,
        round(sum(abs(a.f - b.f) * a.gap), 6) AS emd
    FROM stepped a JOIN stepped b ON a.v = b.v AND a.g < b.g
    WHERE a.gap IS NOT NULL
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# r12i: Heaps-law fit — the vocabulary-growth exponent as numbers
# ---------------------------------------------------------------------------


def heaps_fit(
    df: DataFrame,
    n: int = 2,
    n_shards: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fit Heaps' law V = K·N^β to the :func:`vocab_growth` curve by
    log-log OLS — the two numbers (K, β) that let a 100 TB ingest plan
    EXTRAPOLATE vocabulary (and therefore sketch/dictionary sizing)
    from a pilot shard, instead of eyeballing the curve: β ≈ 0.4–0.6
    is natural text, β → 1 means near-unbounded novelty (ids, noise),
    β → 0 a closed vocabulary.

        ln V_s = ln K + β · ln N_s  over the shard-grain curve points

    with r² as the usual fit gauge (Heaps is an asymptotic law; a low
    r² here is itself the finding). Zero-vocab shards (no points) and
    degenerate single-point curves degrade to NULL via try_divide.

    Plan: the vocab_growth single-pass rewrite (one corpus pass) plus
    an ``n_shards``-row OLS fold — nothing new touches the corpus.
    Returns one row (n_points, k_coef, beta, r2), 6dp."""
    curve = vocab_growth(df, n, n_shards, text_col, id_col).filter(
        (F.col("vocab_size") > 0) & (F.col("corpus_grams") > 0)
    )
    lx = F.log(F.col("corpus_grams").cast("double"))
    ly = F.log(F.col("vocab_size").cast("double"))
    s = curve.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(ly * ly).alias("syy"),
    )
    nn = F.col("n")
    cov = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nn * F.col("syy") - F.col("sy") * F.col("sy")
    beta = F.try_divide(cov, varx)
    lnk = (F.col("sy") - beta * F.col("sx")) / nn
    r2 = F.try_divide(cov * cov, varx * vary)
    return s.select(
        nn.cast("long").alias("n_points"),
        F.round(F.exp(lnk), 6).alias("k_coef"),
        F.round(beta, 6).alias("beta"),
        F.round(r2, 6).alias("r2"),
    )


def sql_heaps_fit(
    table: str = "documents",
    n: int = 2,
    n_shards: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`heaps_fit` — the vocab_growth oracle as
    a CTE plus the same log-log sufficient statistics."""
    vg = sql_vocab_growth(table, n, n_shards, text_col, id_col)
    return f"""
    WITH vg AS ({vg}), pts AS (
        SELECT ln(CAST(corpus_grams AS DOUBLE)) AS x,
            ln(CAST(vocab_size AS DOUBLE)) AS y
        FROM vg WHERE vocab_size > 0 AND corpus_grams > 0
    ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
            sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
        round(exp((sy - (n * sxy - sx * sy)
                        / nullif(n * sxx - sx * sx, 0.0) * sx) / n), 6)
            AS k_coef,
        round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 6)
            AS beta,
        round((n * sxy - sx * sy) * (n * sxy - sx * sy)
              / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 6)
            AS r2
    FROM s
    """


# ---------------------------------------------------------------------------
# r13f: stylometry + keyphrase extraction
# ---------------------------------------------------------------------------


def burrows_delta_sources(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    top_k: int = 50,
) -> DataFrame:
    """Burrows' Delta authorship/style distance between sources: z-score
    each source's RELATIVE frequency of the corpus's ``top_k`` most
    frequent words (mean/sd taken ACROSS sources), then

        Delta(a, b) = mean_w |z_a(w) − z_b(w)|

    — the classical stylometric distance (function-word profile), and
    the drift monitor that catches 'this source changed its voice'
    before topic-level divergence does.

    Plan: one token-count pass (vocab-bounded), a deterministic top-k
    cut (count DESC, token ASC), source×token z-scores off a
    token-grain mean/sd aggregate, and a source-pair join over the
    |sources|²/2 grid — everything past the first pass is
    dimension-sized.  Zero-variance tokens (identical share in every
    source) drop on BOTH engines.  Returns (source_a, source_b,
    n_tokens_used, delta), 6dp, ordered."""
    toks = df.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    st = toks.groupBy("src", "w").agg(F.count(F.lit(1)).alias("c"))
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    st = pooled_persist(st)
    top = (
        st.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("w"))
        .limit(top_k)
        .select("w")
    )
    src_tot = st.groupBy("src").agg(F.sum("c").alias("tot"))
    # dense (source x top-token) grid: absent tokens are f=0, which
    # MUST enter the mean/sd (a source that never says "the" is signal)
    grid = src_tot.crossJoin(F.broadcast(top))
    f = (
        grid.join(st, ["src", "w"], "left")
        .select(
            "src",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("tot")
            ).alias("f"),
        )
    )
    zstats = f.groupBy("w").agg(
        F.avg("f").alias("mu"), F.stddev_samp("f").alias("sd")
    )
    z = (
        f.join(F.broadcast(zstats), "w")
        .filter(F.col("sd") > 0)
        .select(
            "w", "src", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z")
        )
    )
    a = z.select(
        F.col("w").alias("w"), F.col("src").alias("source_a"),
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("w").alias("w"), F.col("src").alias("source_b"),
        F.col("z").alias("zb"),
    )
    pairs = a.join(b, "w").filter(F.col("source_a") < F.col("source_b"))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_used"),
            F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias(
                "delta"
            ),
        )
        .orderBy("source_a", "source_b")
    )


def sql_burrows_delta_sources(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
    top_k: int = 50,
) -> str:
    """DuckDB replay of :func:`burrows_delta_sources` — same top-k tie
    rule, dense grid with zero fills, sample sd, pair grain."""
    return f"""
    WITH toks AS (
        SELECT {source_col} AS src, unnest(string_split({text_col}, ' '))
            AS w
        FROM {table}
    ), st AS (
        SELECT src, w, count(*) AS c FROM toks WHERE w != ''
        GROUP BY 1, 2
    ), top AS (
        SELECT w FROM (
            SELECT w, sum(c) AS tc FROM st GROUP BY 1
        ) ORDER BY tc DESC, w ASC LIMIT {top_k}
    ), src_tot AS (
        SELECT src, sum(c) AS tot FROM st GROUP BY 1
    ), f AS (
        SELECT g.src, g.w,
            coalesce(st.c, 0) / CAST(g.tot AS DOUBLE) AS f
        FROM (SELECT src, tot, w FROM src_tot CROSS JOIN top) g
        LEFT JOIN st ON st.src = g.src AND st.w = g.w
    ), zs AS (
        SELECT w, avg(f) AS mu, stddev_samp(f) AS sd FROM f GROUP BY 1
    ), z AS (
        SELECT f.w, f.src, (f.f - zs.mu) / zs.sd AS z
        FROM f JOIN zs ON f.w = zs.w WHERE zs.sd > 0
    )
    SELECT a.src AS source_a, b.src AS source_b,
        CAST(count(*) AS BIGINT) AS n_tokens_used,
        round(avg(abs(a.z - b.z)), 6) AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.src < b.src
    GROUP BY 1, 2 ORDER BY 1, 2
    """


def vocab_concentration_sources(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Yule's K and Simpson's D vocabulary concentration per source:
    repetitiveness measures that — unlike TTR — are (asymptotically)
    length-invariant, so sources of different sizes compare fairly:

        K = 10^4 · (Σ_m m²·V_m − N) / N²     (V_m = types seen m times)
        D = Σ_w c_w(c_w − 1) / (N(N − 1))    (repeat-draw probability)

    High K/D = template-y, low-diversity text — the dedup/quality
    triage signal at corpus scale.  One token-count pass, per-source
    fold over the frequency spectrum.  Returns (source, n_tokens,
    n_types, yule_k, simpson_d), 6dp, ordered."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    tc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    per = tc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c").cast("double") * F.col("c")).alias("_m2"),
        F.sum(F.col("c").cast("double") * (F.col("c") - 1)).alias(
            "_rep"
        ),
    )
    n = F.col("n_tokens").cast("double")
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(
            1e4 * F.try_divide(F.col("_m2") - n, n * n), 6
        ).alias("yule_k"),
        F.round(
            F.try_divide(F.col("_rep"), n * (n - 1.0)), 6
        ).alias("simpson_d"),
    ).orderBy("source")


def sql_vocab_concentration_sources(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """DuckDB replay of :func:`vocab_concentration_sources`."""
    return f"""
    WITH toks AS (
        SELECT {source_col} AS source,
            unnest(string_split({text_col}, ' ')) AS w
        FROM {table}
    ), tc AS (
        SELECT source, w, count(*) AS c FROM toks WHERE w != ''
        GROUP BY 1, 2
    ), per AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_types,
            sum(CAST(c AS DOUBLE) * c) AS m2,
            sum(CAST(c AS DOUBLE) * (c - 1)) AS rep
        FROM tc GROUP BY 1
    )
    SELECT source, n_tokens, n_types,
        round(1e4 * (m2 - n_tokens)
              / nullif(CAST(n_tokens AS DOUBLE) * n_tokens, 0.0), 6)
            AS yule_k,
        round(rep / nullif(CAST(n_tokens AS DOUBLE)
              * (n_tokens - 1.0), 0.0), 6) AS simpson_d
    FROM per ORDER BY source
    """


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    max_phrase_len: int = 4,
) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) over the corpus:
    candidate phrases are maximal stopword-free token runs per
    document (the shared NLP stopword list as delimiters), words score
    deg(w)/freq(w) with deg counting co-membership in candidate
    phrases, and a phrase scores the sum of its words' scores — the
    classic unsupervised keyphrase extractor next to TextRank (RAKE
    favors multi-word terms; TextRank favors central unigrams).

    Plan: token stream with a per-doc cumulative stopword-boundary
    window (segment id), phrase assembly by (doc, segment) group,
    word statistics on the phrase-token stream (vocab-bounded),
    broadcast word-score join, top-k by (score DESC, phrase ASC).
    Phrases longer than ``max_phrase_len`` are dropped (RAKE's stock
    guard against run-on garbage).  Returns (phrase, n_words, freq,
    score), 6dp."""
    from pyspark.sql import Window

    stop = F.array(*[F.lit(w) for w in _STOPWORDS_SORTED])
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "w"
        ),
    )
    marked = toks.withColumn(
        "_is_stop",
        (F.col("w") == "") | F.array_contains(stop, F.col("w")),
    )
    w_seg = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = marked.withColumn(
        "_seg", F.sum(F.col("_is_stop").cast("int")).over(w_seg)
    ).filter(~F.col("_is_stop"))
    phrases = (
        seg.groupBy("doc", "_seg")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "w"))
                ).getField("w"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") <= max_phrase_len)
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    phrases = pooled_persist(phrases)
    pw = phrases.select(
        "phrase",
        "n_words",
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    wstats = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq_w"),
        F.sum("n_words").alias("deg_w"),
    )
    wscore = wstats.select(
        "w",
        (F.col("deg_w").cast("double") / F.col("freq_w")).alias("ws"),
    )
    # score each DISTINCT phrase once (its words' scores summed with
    # multiplicity within the phrase) — scoring instance rows would
    # multiply the score by corpus frequency
    upw = (
        phrases.select("phrase", "n_words")
        .distinct()
        .select(
            "phrase", "n_words", F.explode(F.split("phrase", " ")).alias("w")
        )
    )
    pscore = (
        upw.join(F.broadcast(wscore), "w")
        .groupBy("phrase")
        .agg(F.first("n_words").alias("n_words"), F.sum("ws").alias("_s"))
    )
    pfreq = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("freq")
    )
    out = (
        pscore.join(pfreq, "phrase")
        .select(
            "phrase",
            "n_words",
            "freq",
            F.round("_s", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(k)
    )
    return out


def sql_rake_keyphrases(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    max_phrase_len: int = 4,
) -> str:
    """DuckDB replay of :func:`rake_keyphrases` — same stopword
    boundaries, segment grouping, deg/freq scores and tie rule."""
    stop_list = ", ".join(
        "'" + w.replace("'", "''") + "'" for w in _STOPWORDS_SORTED
    )
    return f"""
    WITH toks AS (
        SELECT {id_col} AS doc, t.pos, t.w
        FROM {table},
            LATERAL (SELECT unnest(string_split(lower({text_col}), ' '))
                        AS w,
                     generate_subscripts(string_split(lower({text_col}),
                        ' '), 1) AS pos) t
    ), marked AS (
        SELECT doc, pos, w,
            (w = '' OR w IN ({stop_list})) AS is_stop
        FROM toks
    ), seg AS (
        SELECT doc, pos, w,
            sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS sg
        FROM marked
        QUALIFY NOT is_stop
    ), phrases AS (
        SELECT doc, sg,
            string_agg(w, ' ' ORDER BY pos) AS phrase,
            count(*) AS n_words
        FROM seg GROUP BY 1, 2
        HAVING count(*) <= {max_phrase_len}
    ), pw AS (
        SELECT phrase, n_words, unnest(string_split(phrase, ' ')) AS w
        FROM phrases
    ), wstats AS (
        SELECT w, count(*) AS freq_w, sum(n_words) AS deg_w
        FROM pw GROUP BY 1
    ), upw AS (
        SELECT phrase, n_words, unnest(string_split(phrase, ' ')) AS w
        FROM (SELECT DISTINCT phrase, n_words FROM phrases)
    ), pscore AS (
        SELECT upw.phrase, first(upw.n_words) AS n_words,
            sum(CAST(ws.deg_w AS DOUBLE) / ws.freq_w) AS s
        FROM upw JOIN wstats ws ON upw.w = ws.w
        GROUP BY 1
    ), pfreq AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS freq
        FROM phrases GROUP BY 1
    )
    SELECT ps.phrase, CAST(ps.n_words AS BIGINT) AS n_words, pf.freq,
        round(ps.s, 6) AS score
    FROM pscore ps JOIN pfreq pf ON ps.phrase = pf.phrase
    ORDER BY score DESC, ps.phrase ASC LIMIT {k}
    """
