"""Corpus-curation operators for the training-data pipeline: deterministic
dataset splits, PII scrubbing, and stratified sampling.

Not in the reference (it never curates a corpus) — required by the engine
brief as first-class training-data components, alongside dedup.py and
textstats.py.

Every operator here is NARROW (per-row expressions, zero shuffle): at
100 TB they stream through the scan at full parallelism, and every
function is whole-stage-codegen native — no Python anywhere.

Determinism contracts:
- ``hash_split`` buckets on the first 8 hex chars of ``md5(id)`` — the
  same integerization DuckDB replays byte-identically (the md5_token_hash
  pattern proven by dedup_simhash_md5 / winnowing_md5), so a row's split
  never depends on partitioning, row order, cluster size, or engine. A
  re-run, a backfill, or a different engine assigns every document the
  same split — the property that matters when train/test leakage is a
  launch blocker.
- ``pii_scrub`` is a fixed chain of ``regexp_replace`` passes whose
  patterns are written in the RE2-compatible subset shared by Spark (Java
  regex) and DuckDB (RE2), so the scrubbed text is engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --- deterministic hash split ------------------------------------------------

N_BUCKETS = 100


def hash_bucket(id_col: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Stable [0, n_buckets) bucket: int of the first 8 md5 hex chars of the
    id rendered as a string, mod n_buckets. DuckDB replay:
    ``CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
    % n``."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")
    return (h % n_buckets).cast("int")


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Assign every row a deterministic train/val/test split by id hash.

    Buckets [0, train) -> 'train', [train, train+val) -> 'val', the rest
    'test'. Adds ``bucket`` and ``split`` columns; keeps all input columns.
    """
    b = hash_bucket(F.col(id_col))
    return df.withColumn("bucket", b).withColumn(
        "split",
        F.when(F.col("bucket") < train_pct, F.lit("train"))
        .when(F.col("bucket") < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def sql_hash_split(
    table: str,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> str:
    """DuckDB replay of ``hash_split`` (same md5 integerization)."""
    return f"""
    SELECT *,
        CAST(CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT)
             % {N_BUCKETS} AS INT) AS bucket,
        CASE
            WHEN CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT)
                 % {N_BUCKETS} < {train_pct} THEN 'train'
            WHEN CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT)
                 % {N_BUCKETS} < {train_pct + val_pct} THEN 'val'
            ELSE 'test'
        END AS split
    FROM {table}
    """


# --- PII scrubbing -----------------------------------------------------------

# Patterns restricted to the syntax Java regex and RE2 share: no lookaround,
# no backreferences. Order matters: emails before phone-ish digit runs so an
# address's local part is not half-eaten by the phone pass.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d()\. -]{7,}\d", "<PHONE>"),
)


def pii_scrub(df: DataFrame, text_col: str, out_col: str = "scrubbed") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped digit runs from ``text_col``.

    Adds ``out_col`` (scrubbed text) and one ``n_<kind>`` count column per
    pattern (matches in the ORIGINAL text, counted before any replacement
    so counts are pattern-independent facts about the input).
    """
    out = df
    for kind, pat, _ in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)))
    scrubbed = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn(out_col, scrubbed)


def sql_pii_scrub(table: str, text_col: str, out_col: str = "scrubbed") -> str:
    """DuckDB replay of ``pii_scrub`` (regexp_replace with the 'g' flag
    matches Spark's replace-all semantics)."""
    counts = ",\n        ".join(
        f"len(regexp_extract_all({text_col}, '{pat}')) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    scrub = text_col
    for _, pat, repl in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT *,
        {counts},
        {scrub} AS {out_col}
    FROM {table}
    """


# --- sequence packing --------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay documents end-to-end in
    deterministic (group, id) order and cut fixed ``budget``-token training
    rows — the standard LLM pretraining packing layout. A document's pack
    is ``floor(start_offset / budget)`` of its token start within its
    group's stream (documents spanning a boundary belong to the pack they
    START in; the trainer's loader splits residuals).

    Scale shape: the running offset is a window cumsum partitioned by
    ``group_col`` — NOT a global window (a global cumsum funnels 100 TB
    through one task; per-group streams are how packing parallelizes, with
    groups = shards/sources sized by the writer). Zero joins, one shuffle
    on the group key.

    Returns (id_col, group_col, n_tokens, start_offset, pack_id,
    offset_in_pack).
    """
    n_tokens = F.size(F.split(F.col(text_col), " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_offsets = df.select(
        F.col(id_col),
        F.col(group_col),
        n_tokens.alias("n_tokens"),
        (F.sum(n_tokens).over(w) - n_tokens).alias("start_offset"),
    )
    return with_offsets.select(
        F.col(id_col),
        F.col(group_col),
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / budget).cast("long").alias("pack_id"),
        (F.col("start_offset") % budget).cast("long").alias("offset_in_pack"),
    )


def sql_pack_sequences(
    table: str = "documents",
    budget: int = 512,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``pack_sequences`` (same window frame)."""
    return f"""
    SELECT {id_col}, {group_col}, n_tokens,
        CAST(start_offset AS BIGINT) AS start_offset,
        CAST(floor(start_offset / {budget}) AS BIGINT) AS pack_id,
        CAST(start_offset % {budget} AS BIGINT) AS offset_in_pack
    FROM (
        SELECT {id_col}, {group_col},
            len(string_split({text_col}, ' ')) AS n_tokens,
            sum(len(string_split({text_col}, ' ')))
                OVER (PARTITION BY {group_col} ORDER BY {id_col}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - len(string_split({text_col}, ' ')) AS start_offset
        FROM {table}
    )
    """


# --- deterministic stratified sampling ---------------------------------------


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum downsampling that is a pure function of md5(id): row kept
    iff its hash bucket falls under the stratum's percentage. Unlike
    ``DataFrame.sampleBy`` (seeded Bernoulli per partition — resample on
    every re-run/repartition), membership here is reproducible across
    engines, partitionings, and re-runs — rebalancing a skewed corpus
    (e.g. downsampling the dominant language) yields the same corpus every
    time, which is what makes ablations comparable.

    ``fractions`` maps stratum value -> keep fraction in [0, 1] (resolved
    at whole-percent granularity — the md5 bucket space is 100 wide).
    Narrow plan: zero shuffle, fully codegen.
    """
    frac = F.lit(int(round(default_fraction * 100)))
    for value, p in sorted(fractions.items()):
        frac = F.when(F.col(stratum_col) == value, int(round(p * 100))).otherwise(frac)
    return df.withColumn("bucket", hash_bucket(F.col(id_col))).filter(
        F.col("bucket") < frac
    )


def sql_stratified_sample(
    table: str,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> str:
    """DuckDB replay of ``stratified_sample``."""
    cases = " ".join(
        f"WHEN {stratum_col} = '{v}' THEN {int(round(p * 100))}"
        for v, p in sorted(fractions.items())
    )
    bucket = (
        f"CAST(CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % {N_BUCKETS} AS INT)"
    )
    return f"""
    SELECT *, {bucket} AS bucket
    FROM {table}
    WHERE {bucket} < (CASE {cases} ELSE {int(round(default_fraction * 100))} END)
    """


# --- Gopher/C4-style quality rules ------------------------------------------

# Required-stopword set for the presence rule (Gopher uses a similar short
# list); lowercase, matched against whitespace-split tokens.
QUALITY_STOPWORDS = ["and", "be", "have", "of", "that", "the", "to", "with"]


def quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    mean_len_lo: float = 3.0,
    mean_len_hi: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher/C4-style rule-based quality filter (Rae et al. 2021 §A1.1;
    Raffel et al. 2020 §2.2), the rule-transparent sibling of
    ``textstats.text_stats``'s single composite score: each rule is its
    own 0/1 column so a curation run can report WHICH rule rejected a
    document, not just that one did.

    Rules: word count in [min_words, max_words]; mean word length in
    [mean_len_lo, mean_len_hi]; symbol-to-word ratio (#, ellipsis) at most
    max_symbol_ratio; at least min_alpha_ratio of words containing an
    alphabetic character; at least min_stop_hits distinct required
    stopwords present.

    Scale: per-row projection over one scan — no shuffle, no Python. The
    two list-lambda rules (alpha-word filter, stopword intersect) use
    Catalyst HOFs, which are interpreted per element; at 100 TB this stays
    scan-parallel (narrow), and the interpreted cost is one pass over each
    doc's tokens — the same trade documented for textstats' HOF paths in
    SCALING.md. All patterns are in the Java-regex/RE2 shared subset so
    DuckDB replays the rules byte-identically (sql_quality_rules)."""
    text = F.col(text_col)
    toks = F.split(text, r"\s+")
    n_words = F.size(toks)
    n_chars = F.length(text)
    mean_word_len = F.when(
        n_words > 0, (n_chars - n_words + 1).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_symbols = F.regexp_count(text, F.lit(r"#|\.\.\.")) + F.regexp_count(
        text, F.lit("…")
    )
    symbol_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.lower(text), r"\s+")),
            F.array(*[F.lit(w) for w in QUALITY_STOPWORDS]),
        )
    )

    p_words = ((n_words >= min_words) & (n_words <= max_words)).cast("int")
    p_mean = ((mean_word_len >= mean_len_lo) & (mean_word_len <= mean_len_hi)).cast(
        "int"
    )
    p_symbol = (symbol_ratio <= max_symbol_ratio).cast("int")
    p_alpha = (alpha_ratio >= min_alpha_ratio).cast("int")
    p_stop = (stop_hits >= min_stop_hits).cast("int")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        stop_hits.alias("n_stop_hits"),
        p_words.alias("passes_word_count"),
        p_mean.alias("passes_mean_len"),
        p_symbol.alias("passes_symbol"),
        p_alpha.alias("passes_alpha"),
        p_stop.alias("passes_stopwords"),
        (p_words * p_mean * p_symbol * p_alpha * p_stop).alias("passes_all"),
    )


def sql_quality_rules(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    mean_len_lo: float = 3.0,
    mean_len_hi: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> str:
    """DuckDB replay of ``quality_rules`` (same regex subset, same list
    lambdas via list_filter/list_intersect)."""
    stops = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    t = text_col
    return f"""
    WITH base AS (
        SELECT {id_col},
            len(string_split_regex({t}, '\\s+')) AS n_words,
            length({t}) AS n_chars,
            regexp_extract_all({t}, '#|\\.\\.\\.') AS sym1,
            regexp_extract_all({t}, '…') AS sym2,
            len(list_filter(string_split_regex({t}, '\\s+'),
                            w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
            len(list_intersect(list_distinct(string_split_regex(lower({t}), '\\s+')),
                               [{stops}])) AS stop_hits
        FROM {table}
    ),
    m AS (
        SELECT {id_col}, n_words, stop_hits,
            CASE WHEN n_words > 0
                 THEN CAST(n_chars - n_words + 1 AS DOUBLE) / n_words
                 ELSE 0.0 END AS mean_word_len,
            CASE WHEN n_words > 0
                 THEN CAST(len(sym1) + len(sym2) AS DOUBLE) / n_words
                 ELSE 0.0 END AS symbol_ratio,
            CASE WHEN n_words > 0
                 THEN CAST(n_alpha_words AS DOUBLE) / n_words
                 ELSE 0.0 END AS alpha_ratio
        FROM base
    )
    SELECT {id_col}, n_words,
        round(mean_word_len, 6) AS mean_word_len,
        round(symbol_ratio, 6) AS symbol_ratio,
        round(alpha_ratio, 6) AS alpha_ratio,
        stop_hits AS n_stop_hits,
        CAST(n_words >= {min_words} AND n_words <= {max_words} AS INT)
            AS passes_word_count,
        CAST(mean_word_len >= {mean_len_lo} AND mean_word_len <= {mean_len_hi}
             AS INT) AS passes_mean_len,
        CAST(symbol_ratio <= {max_symbol_ratio} AS INT) AS passes_symbol,
        CAST(alpha_ratio >= {min_alpha_ratio} AS INT) AS passes_alpha,
        CAST(stop_hits >= {min_stop_hits} AS INT) AS passes_stopwords,
        CAST(n_words >= {min_words} AND n_words <= {max_words} AS INT)
          * CAST(mean_word_len >= {mean_len_lo} AND mean_word_len <= {mean_len_hi}
                 AS INT)
          * CAST(symbol_ratio <= {max_symbol_ratio} AS INT)
          * CAST(alpha_ratio >= {min_alpha_ratio} AS INT)
          * CAST(stop_hits >= {min_stop_hits} AS INT) AS passes_all
    FROM m
    """


# --- fixed-window document chunking ------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunker: cut each document's token stream into
    ``chunk_size``-token windows advancing by ``chunk_size - overlap``
    tokens — the standard RAG-indexing / long-context pretraining
    segmentation (every token appears in >=1 chunk; consecutive chunks
    share ``overlap`` tokens so no boundary context is lost).

    Window generation stops once a chunk has reached the document end:
    the start bound is ``n - overlap - 1``, the largest start whose
    PREDECESSOR chunk did not already cover the tail. A naive ``n - 1``
    bound emits one extra tail window per document that is fully
    contained in the previous chunk — pure duplicate content that a
    downstream index would embed and retrieve twice (and that the
    hash oracle cannot catch, since a naive SQL mirror shares the bug).

    Narrow plan, zero shuffle: one generator expression per row
    (sequence -> posexplode) and an array slice per chunk — the row count
    multiplies by ~n_tokens/stride but nothing repartitions, so at 100 TB
    this runs at scan parallelism and the natural downstream step
    (embed -> ANN index) starts from already-distributed chunks.

    Returns (id_col, chunk_id, start_token, chunk_len, chunk_text);
    the final chunk may be shorter than ``chunk_size``.
    """
    if overlap >= chunk_size:
        raise ValueError("chunk_documents: overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
    )
    return (
        df.select(
            F.col(id_col),
            toks.alias("_toks"),
            n.alias("_n"),
            F.posexplode(starts).alias("chunk_id", "start_token"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.col("start_token").cast("long").alias("start_token"),
            F.least(F.lit(chunk_size), F.col("_n") - F.col("start_token"))
            .cast("long")
            .alias("chunk_len"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("start_token") + 1, F.lit(chunk_size)),
                " ",
            ).alias("chunk_text"),
        )
    )


def sql_chunk_documents(
    table: str = "documents",
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``chunk_documents`` (1-based list slicing)."""
    stride = chunk_size - overlap
    return f"""
    SELECT {id_col},
        CAST(chunk_id - 1 AS INT) AS chunk_id,
        CAST(start_token AS BIGINT) AS start_token,
        CAST(least({chunk_size}, n - start_token) AS BIGINT) AS chunk_len,
        array_to_string(
            toks[start_token + 1 : start_token + {chunk_size}], ' '
        ) AS chunk_text
    FROM (
        SELECT {id_col}, toks, len(toks) AS n,
            unnest(generate_series(
                0, greatest(len(toks) - {overlap} - 1, 0), {stride}))
                AS start_token,
            unnest(generate_series(
                1, 1 + greatest(len(toks) - {overlap} - 1, 0) // {stride}))
                AS chunk_id
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks
              FROM {table})
    )
    """


# --- token-budget mixture sampling -------------------------------------------


def mixture_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    default_budget: int = 0,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Epoch-mixture construction: select documents per source until that
    source's TOKEN budget is met — how a pretraining run turns per-domain
    mixture weights (40% web, 30% code, ...) into an actual document set.
    Documents are consumed in md5(id) order (a deterministic pseudorandom
    permutation — reproducible across engines, partitionings, and re-runs,
    unlike a seeded shuffle), and a document that straddles its budget
    boundary is INCLUDED, so every budget is met, never undershot.

    One shuffle (window partition on the group key); the cumulative token
    count is a per-group running sum, so at 100 TB each source streams
    independently — no global sort, no driver state.

    Returns (id_col, group_col, n_tokens, tokens_before) for the selected
    documents; ``tokens_before`` is the group's running total before this
    document (< budget by construction).
    """
    n_tokens = F.size(F.split(F.col(text_col), " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.lit(default_budget)
    for value, b in sorted(budgets.items()):
        budget = F.when(F.col(group_col) == value, b).otherwise(budget)
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            n_tokens.alias("n_tokens"),
            (F.sum(n_tokens).over(w) - n_tokens).alias("tokens_before"),
            budget.alias("_budget"),
        )
        .filter(F.col("tokens_before") < F.col("_budget"))
        .select(id_col, group_col, "n_tokens", "tokens_before")
    )


def sql_mixture_budget_sample(
    table: str = "documents",
    budgets: dict[str, int] | None = None,
    default_budget: int = 0,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``mixture_budget_sample`` (same window + order)."""
    budgets = budgets or {}
    if budgets:
        cases = " ".join(
            f"WHEN {group_col} = '{v}' THEN {int(b)}"
            for v, b in sorted(budgets.items())
        )
        budget_expr = f"(CASE {cases} ELSE {int(default_budget)} END)"
    else:  # zero WHEN clauses is invalid SQL — emit the bare literal
        budget_expr = str(int(default_budget))
    return f"""
    SELECT {id_col}, {group_col}, n_tokens,
        CAST(tokens_before AS BIGINT) AS tokens_before
    FROM (
        SELECT {id_col}, {group_col},
            len(string_split({text_col}, ' ')) AS n_tokens,
            sum(len(string_split({text_col}, ' ')))
                OVER (PARTITION BY {group_col}
                      ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - len(string_split({text_col}, ' ')) AS tokens_before
        FROM {table}
    )
    WHERE tokens_before < {budget_expr}
    """


# --- count-capped per-group sampling -----------------------------------------


def capped_sample(
    df: DataFrame,
    n_per_group: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Take EXACTLY min(n, |group|) rows per group, chosen by md5(id)
    order — the fixed-size eval-set / benchmark-slice constructor
    (e.g. "1k docs per language"), complementing the fraction-based
    ``stratified_sample`` and the token-budget ``mixture_budget_sample``.
    Deterministic and engine/partitioning-independent for the same
    reason those are: membership is a pure function of the id hash.

    One window shuffle on the group key. Skew note: a hot group costs
    one reducer a full sort of that group — at 100 TB pre-filter with
    ``stratified_sample`` at a few x the target fraction first (md5
    orders agree, so the cheap narrow pre-cut never changes the final
    selection as long as it keeps >= n rows per group), then cap.

    Returns the selected rows plus ``sample_rank`` (1..n within group).
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_group)
    )


def sql_capped_sample(
    table: str = "documents",
    n_per_group: int = 10,
    group_col: str = "lang",
    id_col: str = "doc_id",
    cols: str = "*",
) -> str:
    """DuckDB replay of ``capped_sample`` (same window + md5 order);
    ``cols`` projects the carried columns to match the Spark side. With
    the default ``cols='*'`` the outer SELECT must not re-list
    ``sample_rank`` (the inner ``*`` re-expansion already carries it, so
    listing it twice would emit a duplicate column and break the
    hash/schema compare)."""
    outer = cols if cols == "*" else f"{cols}, sample_rank"
    return f"""
    SELECT {outer} FROM (
        SELECT {cols},
            CAST(row_number() OVER (
                PARTITION BY {group_col}
                ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
            ) AS INT) AS sample_rank
        FROM {table}
    ) WHERE sample_rank <= {n_per_group}
    """


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    "Weighted random sampling with a reservoir"): each row draws
    ``u ~ Uniform(0,1]`` and the ``n`` rows with the largest
    ``u^(1/w)`` — equivalently the largest ``ln(u)/w`` — are an exact
    weighted sample. The sampler a mixture-tuning pipeline wants when
    "sample 1M docs proportional to quality score" must be one pass,
    deterministic, and engine-independent.

    ``u`` is md5-derived from the id (top 52 hash bits, +1, over 2^52),
    so membership is a pure function of the id — reproducible across
    runs, partitionings, and engines (the stratified/capped samplers'
    contract). Rows with null or non-positive weight are excluded
    (ln(u)/w flips sign for w<0 and divides by zero at 0 — neither is a
    meaningful sampling weight).

    Scale shape: a narrow projection computes keys, then ONE global
    top-n — Catalyst plans TakeOrderedAndProject (per-partition heaps of
    size n, merge on the driver), no full sort shuffle. The driver
    contract is O(n); for n beyond driver comfort switch to the two-pass
    threshold form (approx kth key, then a filter) — same keys, same
    sample.

    Returns (id, weight, sample_key) ordered by key descending, key
    rounded 6dp for cross-engine display (ordering uses the raw key).
    """
    return (
        _es_keyed(df, weight_col, id_col)
        .orderBy(F.desc("_key"), F.asc(id_col))
        .limit(n)
        .select(
            id_col, "weight", F.round("_key", 6).alias("sample_key")
        )
    )


def _es_keyed(df: DataFrame, weight_col: str, id_col: str) -> DataFrame:
    """The shared Efraimidis-Spirakis key frame — ONE definition so the
    one-pass and two-pass samplers are set-identical by construction:
    (id, weight double, _key = ln(u)/w) with u md5-derived and
    non-positive/null weights excluded."""
    u = (
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
            .cast("bigint")
            + F.lit(1)
        ).cast("double")
        / F.lit(float(1 << 52))
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    return df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(
        F.col(id_col),
        F.col(weight_col).cast("double").alias("weight"),
        key.alias("_key"),
    )


def sql_weighted_sample(
    table: str = "documents",
    n: int = 500,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``weighted_sample`` (same md5-derived uniform,
    same ln(u)/w key, same tie-break)."""
    u = (
        f"(CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 13)) "
        f"AS BIGINT) + 1) / {float(1 << 52)!r}"
    )
    return f"""
    SELECT {id_col}, CAST({weight_col} AS DOUBLE) AS weight,
           round(ln({u}) / CAST({weight_col} AS DOUBLE), 6) AS sample_key
    FROM {table}
    WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
    ORDER BY ln({u}) / CAST({weight_col} AS DOUBLE) DESC, {id_col}
    LIMIT {n}
    """


def stratified_topk_sample(
    df: DataFrame,
    stratum_col: str,
    k_per_stratum: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic uniform sample of ``k_per_stratum`` rows from EACH
    stratum — the per-group twin of ``priority_sample``: within a
    stratum, the k rows with the smallest md5(id) priority win, so
    membership is a pure function of (stratum, id), reproducible across
    runs/partitionings/engines, and EXACTLY mergeable per stratum
    (bottom-k of a union == bottom-k of the slices' bottom-ks).

    Plan: one narrow hash projection + a stratum-partitioned rank
    window — parallel across strata, spillable within one; no global
    sort, no collect. NULL ids excluded on both engines (their NULL
    priority sorts opposite ways).

    Returns (stratum, id, pr, rk) for the sampled rows."""
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_hash60

    return (
        df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(stratum_col).alias("stratum"),
            F.col(id_col).alias("id"),
            kmv_hash60(F.col(id_col)).alias("_pr"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("stratum").orderBy(
                    F.col("_pr").asc(), F.col("id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= k_per_stratum)
        .select("stratum", "id", F.col("_pr").alias("pr"), "rk")
    )


def sql_stratified_topk_sample(
    table: str = "events",
    stratum_col: str = "event_type",
    k_per_stratum: int = 20,
    id_col: str = "event_id",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``stratified_topk_sample`` (same md5-int priority,
    same (priority, id) tie-break)."""
    pr = (
        f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15)) "
        "AS BIGINT)"
    )
    return f"""
    SELECT stratum, id, pr, rk FROM (
        SELECT {stratum_col} AS stratum, {id_col} AS id, {pr} AS pr,
            CAST(row_number() OVER (PARTITION BY {stratum_col}
                 ORDER BY {pr} ASC, {id_col} ASC) AS INT) AS rk
        FROM {table}
        WHERE ({where}) AND {id_col} IS NOT NULL
    ) WHERE rk <= {k_per_stratum}
    """


def shuffle_shards(
    df: DataFrame,
    n_shards: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global corpus shuffle into training shards — the
    "randomize example order before training" step, expressed so it
    scales: a true global ORDER BY random() funnels the corpus through a
    range-partitioned sort (and isn't reproducible); instead each doc's
    shard and in-shard position derive from ``md5(seed || id)``:

    - ``shard``  = hash mod n_shards (uniform, seed-dependent),
    - ``pos``    = rank of the hash within the shard.

    Reading shards 0..n-1 sequentially IS the shuffled order (shard-major
    = the epoch permutation); a different ``seed`` is a fresh epoch
    permutation with zero data movement beyond re-sorting. Scale shape:
    one hash-uniform exchange on ``shard`` + per-shard window sort —
    n_shards-way parallel, no global bottleneck, skew-free by
    construction (md5 uniformity).

    Returns (id_col, shard, pos).
    """
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
    return (
        df.select(F.col(id_col), h.alias("_h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def sql_shuffle_shards(
    table: str = "documents",
    n_shards: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``shuffle_shards`` (same seeded md5 hash, shard
    derivation, and in-shard ordering)."""
    h = f"md5(concat('{seed}:', CAST({id_col} AS VARCHAR)))"
    return f"""
    SELECT {id_col},
        CAST(CAST(concat('0x', substr({h}, 1, 8)) AS BIGINT) % {n_shards} AS INT) AS shard,
        CAST(row_number() OVER (
            PARTITION BY CAST(concat('0x', substr({h}, 1, 8)) AS BIGINT) % {n_shards}
            ORDER BY {h}, {id_col}
        ) AS INT) AS pos
    FROM {table}
    """


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Near-dup-aware train/val/test split — the leakage guard
    :func:`hash_split` alone cannot give: two near-duplicate documents
    hashed independently land in different splits ~30% of the time, and a
    test set contaminated by near-copies of training docs inflates every
    eval. Here the split is a function of the duplicate GROUP id (min
    reachable id via ``duplicate_groups``), so an entire near-dup cluster
    moves as one unit — by construction no pair in ``pairs`` ever
    crosses a split boundary.

    ``pairs`` is any near-dup pair frame (exact Jaccard, MinHash,
    SimHash, embedding LSH — the operator is family-agnostic). Scale
    shape: the group formation (one bounded collect of the pairs and
    driver-side rounds up to ``dedup.LOCAL_PAIR_ROWS`` pairs, iterative
    equi-joins past it) plus ONE id join and the same md5 bucket
    arithmetic as ``hash_split`` — deterministic across engines,
    partitionings, and re-runs.

    Returns df's rows plus (group_id, bucket, split).
    """
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    groups = duplicate_groups(pairs, all_ids=df.select(id_col), id_col=id_col)
    # hash_split on the GROUP id — one shared split definition, so any
    # future change to split semantics applies to both flavors
    return hash_split(
        df.join(groups.select(id_col, "group_id"), id_col),
        "group_id",
        train_pct,
        val_pct,
    )


def mixture_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pretraining-mixture report: per-group document/token counts, token
    share, and cumulative share in descending-token order — the table a
    mixture decision (and every DSIR/budget-sampling run) starts from,
    and the Pareto view ("the top 3 sources are 80% of tokens") that
    drives curation priorities.

    Scale shape: ONE map-side-combinable aggregate over the corpus; the
    share/cumulative windows then run over the AGGREGATED frame, which is
    group-count-sized (sources/domains — thousands at most), so the
    single-partition global window is windowing a few KB, not the corpus.

    Returns (group_col, n_docs, n_tokens, token_share, cum_share),
    shares rounded 6dp, ordered by (n_tokens DESC, group).
    """
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("bigint").alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy(
        F.desc("n_tokens"), F.asc(group_col)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        agg.withColumn("_total", F.sum("n_tokens").over(w_all))
        .withColumn(
            "token_share",
            F.round(F.col("n_tokens").cast("double") / F.col("_total"), 6),
        )
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n_tokens").over(w_cum).cast("double") / F.col("_total"), 6
            ),
        )
        .select(group_col, "n_docs", "n_tokens", "token_share", "cum_share")
    )


def sql_mixture_report(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``mixture_report`` (same ordering and rounding)."""
    return f"""
    WITH agg AS (
        SELECT {group_col},
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(len(string_split({text_col}, ' '))) AS BIGINT) AS n_tokens
        FROM {table}
        GROUP BY {group_col}
    )
    SELECT {group_col}, n_docs, n_tokens,
        round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share,
        round(CAST(sum(n_tokens) OVER (
                  ORDER BY n_tokens DESC, {group_col}
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS DOUBLE) / sum(n_tokens) OVER (), 6) AS cum_share
    FROM agg
    """


def weighted_sample_threshold(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    oversample: float = 2.0,
) -> DataFrame:
    """The LARGE-``n`` flavor of :func:`weighted_sample` — same
    Efraimidis-Spirakis keys, same selected set, different physical plan:
    instead of one global top-n (whose driver merge is O(n) and
    uncomfortable at n in the tens of millions), pass 1 estimates the
    key threshold at rank ``oversample * n`` via ``approxQuantile``
    (sketch aggregate, no sort), pass 2 filters to keys above it
    (survivor set ~oversample*n rows) and runs the exact top-n on that
    sliver. The keys are pure functions of the id, so the SELECTED SET is
    identical to the one-pass flavor — equality is tested, and if the
    sketch under-cuts (survivors < n) the operator falls back to the
    exact path rather than return a short sample.

    The keys come from the SAME ``_es_keyed`` frame as the one-pass
    flavor (shared definition, not a copy), persisted via the session
    pool around its up-to-4 consumers (count, sketch, survivor count,
    top-n) so the md5/log derivation runs once, not per action. The
    sketch's ``relativeError`` scales with ``n/total``: a fixed error is
    RELATIVE TO TOTAL ROWS, so at total >> n it could exceed the whole
    oversample margin and silently force the fallback — the error is
    capped at half the (oversample-1)*n margin instead.
    """
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    keyed = pooled_persist(_es_keyed(df, weight_col, id_col))
    total = keyed.count()
    if total <= n:
        survivors = keyed
    else:
        p = 1.0 - min(1.0, (oversample * n) / total)
        rel_err = max(
            1e-6, min(0.001, (oversample - 1.0) * n / (2.0 * total))
        )
        (threshold,) = keyed.stat.approxQuantile("_key", [p], rel_err)
        survivors = keyed.filter(F.col("_key") >= threshold)
        if survivors.count() < n:  # sketch under-cut: exact fallback
            survivors = keyed
    return (
        survivors.orderBy(F.desc("_key"), F.asc(id_col))
        .limit(n)
        .select(id_col, "weight", F.round("_key", 6).alias("sample_key"))
    )


# --- scale-safe global ranking ----------------------------------------------


def global_rank(
    df: DataFrame,
    bucket: Column,
    order_cols: list[str],
    rank_col: str = "global_rank",
) -> DataFrame:
    """Total ordering (dense global row numbers) WITHOUT funneling the
    data through one partition: the curriculum-export shape, where every
    training document needs its position in a corpus-wide order.

    ``row_number() OVER (ORDER BY ...)`` — the direct formulation — is a
    single-partition sort, the exact anti-pattern at 100 TB. The
    two-phase rewrite: (1) a caller-supplied range ``bucket`` expression
    (any monotone non-decreasing function of the leading order column —
    deterministic, unlike repartitionByRange's sampled boundaries) splits
    the order into contiguous ranges ranked in parallel; (2) per-bucket
    counts cumulate into starting offsets in a bucket-DIMENSION-sized
    window, broadcast back, and rank = offset + in-bucket row_number.
    Bucket skew degrades parallelism, never correctness — production
    derives the bucket boundaries from column stats or a sample.

    ``order_cols`` must be a total order (include a unique key) or ranks
    would be nondeterministic.

    NULL buckets are ranked, not dropped: the offset join is NULL-SAFE
    (``eqNullSafe``), so rows whose bucket expression evaluates to NULL
    form their own FIRST range (groupBy keeps a NULL group and the
    offset window's ascending sort is NULLS FIRST — the same order
    Spark's sort gives a NULL leading order column, which is when a
    monotone bucket expression is NULL). A plain equi-join here would
    silently erase those rows from the 'total' ordering."""
    work = df.withColumn("_bk", bucket)
    w_in = Window.partitionBy("_bk").orderBy(*order_cols)
    per_bucket = work.groupBy("_bk").agg(F.count(F.lit(1)).alias("_n"))
    w_bk = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        F.col("_bk").alias("_bk_o"),
        F.coalesce(F.sum("_n").over(w_bk), F.lit(0)).alias("_off"),
    )
    return (
        work.join(
            F.broadcast(offsets), F.col("_bk").eqNullSafe(F.col("_bk_o"))
        )
        .withColumn(rank_col, (F.col("_off") + F.row_number().over(w_in)).cast("long"))
        .drop("_bk", "_bk_o", "_off")
    )


def rank_buckets_from_sample(
    df: DataFrame,
    order_col: str,
    n_buckets: int = 32,
    relative_error: float = 0.01,
) -> Column:
    """Derive a ``global_rank`` bucket expression from data statistics:
    approxQuantile boundaries (Greenwald-Khanna sketch — one pass, no
    sort) turned into a searchsorted CASE chain. This is the
    'production derives the boundaries' seam the operator documents:
    equi-DEPTH buckets keep parallelism under skew where a fixed-width
    bucket degenerates. The boundaries are data-dependent, so ranks stay
    exactly correct (any monotone bucketing is), but two runs over
    different data snapshots may bucket differently — pin boundaries in
    config for run-to-run plan stability."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.stat.approxQuantile(order_col, qs, relative_error)
    # dedupe (skewed data repeats cut values) while keeping order
    uniq: list[float] = []
    for c in cuts:
        if not uniq or c > uniq[-1]:
            uniq.append(c)
    expr = F.lit(len(uniq))
    for i in range(len(uniq) - 1, -1, -1):
        expr = F.when(F.col(order_col) <= F.lit(uniq[i]), F.lit(i)).otherwise(expr)
    # NULLs: approxQuantile ignores them and `v <= cut` is NULL, so the
    # fall-through would send NULL rows to the LAST bucket — but Spark's
    # ascending sort is NULLS FIRST, making the bucketing non-monotone
    # exactly there. Route NULLs to bucket -1 (before every cut) so
    # global_rank's bucket order matches the window-sort order it
    # reproduces (review finding).
    return F.when(F.col(order_col).isNull(), F.lit(-1)).otherwise(expr).cast("long")


def sql_global_rank(
    table: str,
    order_by: str,
    cols: str,
    rank_col: str = "global_rank",
) -> str:
    """DuckDB replay: the direct single-window formulation (fine at
    oracle scale; the Spark side carries the two-phase rewrite)."""
    return f"""
    SELECT {cols},
        CAST(row_number() OVER (ORDER BY {order_by}) AS BIGINT)
            AS {rank_col}
    FROM {table}
    """


# --- largest-remainder proportional allocation ------------------------------


def proportional_sample(
    df: DataFrame,
    total: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-``total``-row sample whose per-stratum counts follow the
    largest-remainder (Hamilton) apportionment of the corpus mix: stratum
    g gets floor(total * n_g / N) rows plus one of the R leftover seats,
    awarded by descending remainder ((total * n_g) mod N, ties by group
    name). Rounding per-stratum fractions independently misses the exact
    total; largest remainder is the standard fix — and in INTEGER
    arithmetic throughout, so the allocation is engine-exact.

    Membership within a stratum is the registry's deterministic-uniform
    convention: the first quota rows by (md5(id), id). Scale: quotas
    derive from a group-count aggregate (dimension-sized, windowed over
    strata, broadcast back); selection is one per-group window — the same
    single-shuffle bound as every per-group operator here.

    NULL ``group_col`` rows are EXCLUDED before apportionment (explicit
    exclusion contract: a NULL stratum would claim seats the equi-join
    back to the data can never fill, silently shorting the total).
    Requires ``total <= count(non-NULL rows)`` — Hamilton quotas never
    exceed a stratum's size, so an over-budget request cannot be met."""
    df = df.filter(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    # N via a window over the stratum-count frame (dimension-sized by
    # construction) — a join back to an aggregate of the same lineage
    # trips ambiguous-reference resolution and costs a second branch
    # NOTE "_tot", not "_N": Spark resolves identifiers case-insensitively
    # by default, so an "_N" alias would shadow "_n" (caught by the gate)
    scaled = counts.withColumn(
        "_tot", F.sum("_n").over(Window.partitionBy(F.lit(1)))
    ).select(
        group_col,
        # integer `div`, not floor(double /): the float quotient can
        # mis-round next to an integer once total * n_g overflows the
        # 53-bit mantissa — the allocation must be integer-exact
        F.expr(f"({total} * _n) div _tot").alias("_base"),
        ((F.lit(total) * F.col("_n")) % F.col("_tot")).alias("_rem"),
    )
    w_rem = Window.orderBy(F.desc("_rem"), F.asc(group_col))
    w_all = Window.partitionBy(F.lit(1))
    quotas = scaled.select(
        group_col,
        (
            F.col("_base")
            + (
                F.row_number().over(w_rem)
                <= F.lit(total) - F.sum("_base").over(w_all)
            ).cast("long")
        ).alias("_quota"),
    )
    w_in = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.join(F.broadcast(quotas), group_col)
        .withColumn("_rn", F.row_number().over(w_in))
        .filter(F.col("_rn") <= F.col("_quota"))
        .select(
            id_col, group_col, F.col("_quota").cast("long").alias("stratum_quota")
        )
    )


def sql_proportional_sample(
    table: str = "documents",
    total: int = 100,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``proportional_sample`` (same integer Hamilton
    apportionment + md5-order membership)."""
    return f"""
    WITH base AS (
        SELECT * FROM {table} WHERE {group_col} IS NOT NULL
    ),
    counts AS (
        SELECT {group_col}, count(*) AS n FROM base GROUP BY {group_col}
    ),
    scaled AS (
        SELECT {group_col},
            ({total} * n) // (SELECT sum(n) FROM counts) AS base,
            ({total} * n) % (SELECT sum(n) FROM counts) AS rem
        FROM counts
    ),
    quotas AS (
        SELECT {group_col},
            base + CAST(row_number() OVER (ORDER BY rem DESC, {group_col})
                   <= {total} - (SELECT sum(base) FROM scaled) AS BIGINT)
                AS quota
        FROM scaled
    )
    SELECT {id_col}, {group_col}, CAST(quota AS BIGINT) AS stratum_quota
    FROM (
        SELECT t.{id_col}, t.{group_col}, q.quota,
            row_number() OVER (PARTITION BY t.{group_col}
                ORDER BY md5(CAST(t.{id_col} AS VARCHAR)), t.{id_col}) AS rn
        FROM base t JOIN quotas q USING ({group_col})
    ) WHERE rn <= quota
    """


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    n_neg: int = 3,
    bucket_size: int = 64,
) -> DataFrame:
    """Deterministic uniform negative sampling — the contrastive-training
    data op: for every document, ``n_neg`` pseudo-random OTHER documents
    drawn uniformly (without self-pairs), reproducible across runs and
    engines (md5 arithmetic, no rand()).

    Construction: (1) dense-rank the corpus 0..N-1 with the two-phase
    ``global_rank`` (id-bucketed — no single-partition sort); (2) for
    pair slot j, offset = 1 + (md5(id||'#'||j) mod (N-1)), neg_rank =
    (rank + offset) mod N — a nonzero cyclic shift, so neg != self and
    the draw is uniform over the other N-1 documents; (3) an equi-join
    on neg_rank fetches the partner id. Fan-out is the bounded n_neg
    explode; both joins are hash equi-joins on the rank key.

    Returns (doc_id, j, neg_id). Collision across slots of one doc is
    possible (independent draws — the standard with-replacement
    contract); dedupe downstream if a task needs distinct negatives.
    The corpus-size probe is one count() job (a scalar, the modulus)."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    n_total = df.count()
    if n_total < 2:
        raise ValueError("negative_samples needs >= 2 rows")
    # pooled: ranked feeds BOTH the exploded slots frame and the partner
    # join side — without the persist the two-phase rank subtree (groupBy
    # + offsets + window) executes once per consumer
    # bucket via exact integer division (`div`), not (id / size).cast:
    # double division rounds for |id| >~ 2^53 which can flip a boundary
    # id into the wrong bucket, and trunc-vs-floor width quirks near 0
    # are moot since trunc IS monotone — `div` is monotone AND exact for
    # the full bigint range (negative ids included)
    ranked = pooled_persist(
        global_rank(
            df.select(id_col),
            bucket=F.expr(
                f"CAST({id_col} AS BIGINT) div {int(bucket_size)}"
            ),
            order_cols=[id_col],
            rank_col="_rk",
        ).select(id_col, (F.col("_rk") - 1).alias("_rk"))
    )
    slots = ranked.select(
        F.col(id_col),
        "_rk",
        F.explode(F.array(*[F.lit(j) for j in range(1, n_neg + 1)])).alias("j"),
    )
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_hash60

    h = kmv_hash60(F.concat_ws("#", F.col(id_col).cast("string"), F.col("j")))
    picked = slots.select(
        id_col,
        "j",
        ((F.col("_rk") + F.lit(1) + (h % F.lit(n_total - 1))) % F.lit(n_total)).alias(
            "_neg_rk"
        ),
    )
    partners = ranked.select(
        F.col("_rk").alias("_neg_rk"), F.col(id_col).alias("neg_id")
    )
    return picked.join(partners, "_neg_rk").select(id_col, "j", "neg_id")


def sql_negative_samples(
    table: str = "documents", id_col: str = "doc_id", n_neg: int = 3
) -> str:
    """DuckDB replay of ``negative_samples`` — same rank/md5/cyclic-shift
    arithmetic (single-window rank, fine at oracle scale)."""
    return f"""
    WITH ranked AS (
        SELECT {id_col},
            row_number() OVER (ORDER BY {id_col}) - 1 AS rk
        FROM {table}
    ), n AS (SELECT count(*) AS total FROM ranked),
    slots AS (
        SELECT {id_col}, rk, j
        FROM ranked, unnest(generate_series(1, {n_neg})) AS g(j)
    ), picked AS (
        SELECT {id_col}, j,
            (rk + 1 + (CAST(('0x' || substr(md5(concat_ws('#',
                CAST({id_col} AS VARCHAR), CAST(j AS VARCHAR))), 1, 15))
                AS BIGINT) % (total - 1))) % total AS neg_rk
        FROM slots, n
    )
    SELECT p.{id_col}, CAST(p.j AS INT) AS j, r.{id_col} AS neg_id
    FROM picked p JOIN ranked r ON r.rk = p.neg_rk
    """


def kfold_assign(
    df: DataFrame, id_col: str, k: int = 5, fold_col: str = "fold"
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation: fold =
    md5-hash(id) mod k — the same engine/partitioning-independent
    contract as ``hash_split`` (a re-run or a different engine puts
    every row in the same fold), zero shuffles (narrow expression).
    Train/eval for fold i = (fold != i, fold == i)."""
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_hash60

    return df.withColumn(
        fold_col, (kmv_hash60(F.col(id_col)) % k).cast("int")
    )


def sql_kfold_assign(
    table: str, id_col: str, k: int = 5, fold_col: str = "fold"
) -> str:
    """DuckDB replay of ``kfold_assign``."""
    return f"""
    SELECT *,
        CAST(CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))
            AS BIGINT) % {k} AS INT) AS {fold_col}
    FROM {table}
    """


def pareto_coverage(
    df: DataFrame,
    group_col: str,
    weight_expr,
    target: float = 0.8,
) -> DataFrame:
    """Pareto/ABC coverage analysis: which groups carry ``target`` of
    the total mass (the 80/20 question every corpus-composition review
    asks of sources/languages). Groups sort by weight descending; a
    group is in the Pareto set while the CUMULATIVE share before it is
    still under the target (so the set is minimal and always non-empty).

    Plan: one combinable weight fold to the group-sized frame, then a
    single ordered window over that frame (dimension-sized — the same
    contract as every calendar/group summary here). Returns
    (group, weight, share, cum_share, in_pareto) rounded 6dp."""
    from pyspark.sql import Window

    w = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(weight_expr).cast("double").alias("wt"))
    )
    win = Window.orderBy(F.desc("wt"), F.asc("g")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    return w.select(
        "g",
        "wt",
        F.round(F.col("wt") / F.sum("wt").over(tot), 6).alias("share"),
        F.round(
            F.sum("wt").over(win) / F.sum("wt").over(tot), 6
        ).alias("cum_share"),
        (
            (F.sum("wt").over(win) - F.col("wt"))
            / F.sum("wt").over(tot)
            < target
        ).alias("in_pareto"),
    )


def sql_pareto_coverage(
    table: str,
    group_col: str,
    weight_sql: str,
    target: float = 0.8,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``pareto_coverage`` (same descending order, same
    before-this-row cumulative rule)."""
    return f"""
    WITH g AS (
        SELECT {group_col} AS g, CAST(sum({weight_sql}) AS DOUBLE) AS wt
        FROM {table} WHERE {where} GROUP BY 1
    )
    SELECT g, wt,
        round(wt / sum(wt) OVER (), 6) AS share,
        round(sum(wt) OVER w / sum(wt) OVER (), 6) AS cum_share,
        (sum(wt) OVER w - wt) / sum(wt) OVER () < {float(target)}
            AS in_pareto
    FROM g
    WINDOW w AS (ORDER BY wt DESC, g ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


def mixture_temperature(
    df: DataFrame,
    total_budget: int,
    temperature: float = 2.0,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-pretraining
    rebalance, Conneau & Lample 2019): raw source shares p_s (by token
    volume) are flattened to p_s^(1/T) / Σ p^(1/T) — T=1 keeps natural
    proportions, T→∞ approaches uniform — then turned into per-source
    token budgets for ``mixture_budget_sample`` to consume. One
    fact-table aggregate; everything after is source-dimension-sized.

    Returns (source, n_tokens, p_raw, p_temp, budget_tokens) — shares
    6dp, budget 4dp (kept as a rounded double: an integer floor would
    flip on last-ulp pow() differences across engines)."""
    counts = df.groupBy(group_col).agg(
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("n_tokens")
    )
    w = Window.partitionBy()
    inv_t = 1.0 / float(temperature)
    p_raw = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    powed = F.pow(p_raw, F.lit(inv_t))
    p_temp = powed / F.sum(powed).over(w)
    return counts.select(
        group_col,
        "n_tokens",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp * F.lit(float(total_budget)), 4).alias(
            "budget_tokens"
        ),
    )


def sql_mixture_temperature(
    table: str = "documents",
    total_budget: int = 100000,
    temperature: float = 2.0,
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``mixture_temperature`` (same pow/normalize
    arithmetic over the source-dimension frame)."""
    inv_t = 1.0 / float(temperature)
    return f"""
    WITH counts AS (
        SELECT {group_col},
            sum(len(string_split({text_col}, ' '))) AS n_tokens
        FROM {table} GROUP BY 1
    ), tot AS (SELECT sum(n_tokens) AS t FROM counts),
    powed AS (
        SELECT {group_col}, n_tokens,
            CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS p_raw,
            pow(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE),
                CAST({inv_t!r} AS DOUBLE)) AS pw
        FROM counts, tot
    ), z AS (SELECT sum(pw) AS z FROM powed)
    SELECT {group_col}, CAST(n_tokens AS BIGINT) AS n_tokens,
        round(p_raw, 6) AS p_raw,
        round(pw / z.z, 6) AS p_temp,
        round(pw / z.z * CAST({float(total_budget)!r} AS DOUBLE), 4)
            AS budget_tokens
    FROM powed, z
    """


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    bucket_width: int = 512,
) -> DataFrame:
    """Quantile normalization of ``value_col`` across the levels of
    ``group_col``: every group's distribution is mapped ONTO the pooled
    distribution by rank — source-specific length/quality scales become
    comparable before mixture weighting (the cross-source calibration
    step in front of ``mixture_budget``-style curation; genomics'
    quantile-normalize applied to corpus stats).

    Rank arithmetic is INTEGER-exact end to end: within-group rank r of
    n maps to pooled position  p = 1 + floor((r−1)·(N−1)/(n−1))
    (singleton groups map to the pooled median position (N+1)//2), and
    p joins back to the pooled order statistic. Order is made total
    with the id column, so both engines rank identically.

    Scale posture: the within-group ranks are keyed windows; the pooled
    order statistic uses the id-bucketed two-phase
    :func:`global_rank` (bucket width over the leading order column —
    monotone, deterministic), NOT a single-partition row_number. The
    readout aggregates back to group grain: (group, n, mean_before,
    mean_after), 6dp."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("v"),
        F.col(id_col).alias("_id"),
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    vals = pooled_persist(vals)
    pooled = global_rank(
        vals,
        F.floor(F.col("v") / F.lit(float(bucket_width))),
        ["v", "_id"],
        rank_col="_p",
    ).select(F.col("_p"), F.col("v").alias("_pv"))
    n_tot = vals.agg(F.count(F.lit(1)).alias("_n"))
    w_in = Window.partitionBy("g").orderBy("v", "_id")
    sizes = Window.partitionBy("g")
    ranked = (
        vals.withColumn("_r", F.row_number().over(w_in))
        .withColumn("_ng", F.count(F.lit(1)).over(sizes))
        .crossJoin(F.broadcast(n_tot))
    )
    # the first factor goes to double BEFORE the product: (r-1)*(N-1)
    # as raw longs wraps int64 past ~3e9 rows (the exact_nearest_rank
    # overflow-guard class, sketches.py); the double product is exact
    # up to 2^53 — beyond any N whose positions a rank map can resolve
    # at double precision anyway (r11 review finding)
    pos = F.when(
        F.col("_ng") > 1,
        1
        + F.floor(
            (F.col("_r") - 1).cast("double")
            * (F.col("_n") - 1)
            / (F.col("_ng") - 1)
        ),
    ).otherwise(F.floor((F.col("_n") + 1) / 2)).cast("long")
    mapped = ranked.withColumn("_p", pos).join(pooled, "_p")
    return (
        mapped.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("v"), 6).alias("mean_before"),
            F.round(F.avg("_pv"), 6).alias("mean_after"),
        )
        .select(F.col("g").alias(group_col), "n", "mean_before", "mean_after")
    )


def sql_quantile_normalize(
    table: str,
    group_col: str,
    value_col: str,
    id_col: str,
) -> str:
    """DuckDB replay of :func:`quantile_normalize` — same integer rank
    mapping, same total order, single-sort pooled rank (the oracle
    anchor; the Spark side buckets it)."""
    return f"""
    WITH vals AS (
        SELECT {group_col} AS g, CAST({value_col} AS DOUBLE) AS v,
               {id_col} AS id
        FROM {table} WHERE {value_col} IS NOT NULL
    ), pooled AS (
        SELECT row_number() OVER (ORDER BY v, id) AS p, v AS pv
        FROM vals
    ), ranked AS (
        SELECT g, v,
            row_number() OVER (PARTITION BY g ORDER BY v, id) AS r,
            count(*) OVER (PARTITION BY g) AS ng,
            (SELECT count(*) FROM vals) AS n
        FROM vals
    ), mapped AS (
        SELECT g, v,
            CASE WHEN ng > 1
                 THEN 1 + CAST(floor((r - 1) * 1.0 * (n - 1)
                                     / (ng - 1)) AS BIGINT)
                 ELSE CAST(floor((n + 1) / 2.0) AS BIGINT)
            END AS p
        FROM ranked
    )
    SELECT m.g AS {group_col}, count(*) AS n,
        round(avg(m.v), 6) AS mean_before,
        round(avg(pooled.pv), 6) AS mean_after
    FROM mapped m JOIN pooled USING (p)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# r12: quality-threshold sweep (the curation planner table)
# ---------------------------------------------------------------------------

def quality_threshold_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retention curve over the rule-based quality score: for every
    threshold t in 0..5 ("document passes at least t of the five
    Gopher/C4 rules"), how many documents and what token share survive
    — the table a curation run reads BEFORE committing a cutoff, the
    lsh_scurve planner's sibling for the quality axis (pick the
    threshold where the doc loss is acceptable and the token loss
    visible).

    Plan: ONE ``quality_rules`` scan (per-row flags, no shuffle), a
    6-row literal threshold grid joined by inequality on the
    dimension-bounded (score ∈ 0..5) aggregate — the fact stream is
    aggregated to the 6-row score grain BEFORE the grid join, so the
    sweep costs one map-side-combinable aggregate regardless of corpus
    size.  Output per threshold:
    (min_rules_passed, n_docs, n_words, doc_frac, word_frac), 6dp."""
    rules = quality_rules(df, text_col=text_col, id_col=id_col)
    score = (
        F.col("passes_word_count")
        + F.col("passes_mean_len")
        + F.col("passes_symbol")
        + F.col("passes_alpha")
        + F.col("passes_stopwords")
    )
    by_score = rules.select(
        score.alias("_score"), F.col("n_words")
    ).groupBy("_score").agg(
        F.count(F.lit(1)).alias("_docs"), F.sum("n_words").alias("_words")
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(t,) for t in range(6)], "min_rules_passed int"
    )
    # LEFT join (r12 review finding): a threshold NO document reaches
    # must still emit its n_docs=0 row — "everything dies here" is the
    # planner readout this table exists for
    joined = grid.join(
        F.broadcast(by_score),
        F.col("_score") >= F.col("min_rules_passed"),
        "left",
    ).groupBy("min_rules_passed").agg(
        F.sum("_docs").alias("n_docs"), F.sum("_words").alias("n_words")
    )
    totals = by_score.agg(
        F.sum("_docs").alias("_td"), F.sum("_words").alias("_tw")
    )
    n_docs = F.coalesce("n_docs", F.lit(0))
    n_words = F.coalesce("n_words", F.lit(0))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "min_rules_passed",
            n_docs.alias("n_docs"),
            n_words.alias("n_words"),
            F.round(
                n_docs.cast("double") / F.col("_td"), 6
            ).alias("doc_frac"),
            F.round(
                n_words.cast("double") / F.col("_tw"), 6
            ).alias("word_frac"),
        )
    )


def sql_quality_threshold_sweep(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``quality_threshold_sweep`` (same rule flags via
    sql_quality_rules, same score-grain aggregate and inequality
    grid)."""
    inner = sql_quality_rules(table, text_col=text_col, id_col=id_col)
    return f"""
    WITH qr AS ({inner}),
    by_score AS (
        SELECT passes_word_count + passes_mean_len + passes_symbol
               + passes_alpha + passes_stopwords AS score,
            count(*) AS docs, sum(n_words) AS words
        FROM qr GROUP BY 1
    ), grid(min_rules_passed) AS (VALUES (0), (1), (2), (3), (4), (5)),
    joined AS (
        SELECT g.min_rules_passed,
            sum(b.docs) AS n_docs, sum(b.words) AS n_words
        FROM grid g LEFT JOIN by_score b ON b.score >= g.min_rules_passed
        GROUP BY 1
    ), totals AS (
        SELECT sum(docs) AS td, sum(words) AS tw FROM by_score
    )
    SELECT min_rules_passed,
        coalesce(n_docs, 0) AS n_docs, coalesce(n_words, 0) AS n_words,
        round(CAST(coalesce(n_docs, 0) AS DOUBLE) / td, 6) AS doc_frac,
        round(CAST(coalesce(n_words, 0) AS DOUBLE) / tw, 6) AS word_frac
    FROM joined CROSS JOIN totals
    """


# ---------------------------------------------------------------------------
# r12f: Neyman allocation — variance-optimal stratified sampling plan
# ---------------------------------------------------------------------------


def neyman_allocation(
    df: DataFrame,
    stratum_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_total: int = 1000,
    hash_buckets: int = 1_000_000,
) -> DataFrame:
    """Variance-optimal stratified sampling: allocate a ``n_total``-row
    budget across strata by Neyman's rule —

        n_h = n_total · N_h·S_h / Σ_g N_g·S_g

    (bigger and noisier strata get more rows — the allocation that
    minimizes the variance of the stratified mean at fixed budget),
    then DRAW the sample deterministically: a row is taken iff its
    fine-grained md5 bucket (:func:`hash_bucket` at ``hash_buckets``
    resolution) falls under the stratum's allocated fraction — the
    :func:`stratified_sample` reproducibility contract (same corpus
    every re-run/repartition/engine), so the draw is a hash filter, not
    a rank: NO per-stratum global sort at fact grain, which is what
    makes the plan survive 100 TB. The taken count is therefore
    hash-binomial around n_h rather than exactly n_h (documented;
    exact-n_h needs a per-stratum rank — the bucketed-window recipe —
    and is rarely worth the sort).

    Plan: one stratum-grain moment aggregate (N_h, S_h — map-side
    combinable), a ≤|strata|-row allocation fold broadcast back onto
    the fact stream, one hash-filter count. Zero-variance or
    single-row strata have S_h = 0 and draw nothing (their mean needs
    no sample); 6dp rounding pins the allocation arithmetic before the
    integer floor on BOTH engines (a last-ulp Σ difference may not
    flip a floor boundary). Returns one row per stratum
    (stratum, n_rows, stddev, alloc, took)."""
    mom = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(value_col).cast("double")).alias("_s"),
            F.sum(
                F.col(value_col).cast("double") * F.col(value_col)
            ).alias("_ss"),
        )
    )
    nh = F.col("n_rows").cast("double")
    var = F.try_divide(
        F.col("_ss") - F.try_divide(F.col("_s") * F.col("_s"), nh),
        nh - 1.0,
    )
    sd = F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)
    weighted = mom.select(
        "stratum", "n_rows", sd.alias("stddev")
    ).withColumn("_w", F.col("n_rows") * F.coalesce("stddev", F.lit(0.0)))
    tot = weighted.agg(F.sum("_w").alias("_tw"))
    alloc = (
        weighted.crossJoin(F.broadcast(tot))
        .withColumn(
            "alloc",
            F.floor(
                F.lit(float(n_total))
                * F.round(F.try_divide(F.col("_w"), F.col("_tw")), 6)
            ).cast("long"),
        )
        .select("stratum", "n_rows", "stddev", "alloc")
    )
    frac_bucket = F.floor(
        F.col("alloc") * F.lit(float(hash_buckets))
        / F.col("n_rows")
    )
    drawn = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(stratum_col).alias("stratum"),
            hash_bucket(F.col(id_col), hash_buckets).alias("_b"),
        )
        .join(F.broadcast(alloc), "stratum")
        .filter(F.col("_b") < frac_bucket)
        .groupBy("stratum")
        .agg(F.count(F.lit(1)).alias("took"))
    )
    return alloc.join(drawn, "stratum", "left").select(
        "stratum",
        "n_rows",
        "stddev",
        "alloc",
        F.coalesce("took", F.lit(0)).alias("took"),
    )


def sql_neyman_allocation(
    table: str = "events",
    stratum_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_total: int = 1000,
    hash_buckets: int = 1_000_000,
) -> str:
    """DuckDB replay of :func:`neyman_allocation` — same moments,
    rounded weights, floor allocation, and md5-bucket draw."""
    return f"""
    WITH mom AS (
        SELECT {stratum_col} AS stratum, count(*) AS n_rows,
            round(sqrt(greatest(
                (sum(CAST({value_col} AS DOUBLE) * {value_col})
                 - sum(CAST({value_col} AS DOUBLE))
                   * sum(CAST({value_col} AS DOUBLE))
                   / CAST(count(*) AS DOUBLE))
                / nullif(CAST(count(*) AS DOUBLE) - 1.0, 0.0),
                0.0)), 6) AS stddev
        FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
    ), weighted AS (
        SELECT stratum, n_rows, stddev,
            n_rows * coalesce(stddev, 0.0) AS _w
        FROM mom
    ), alloc AS (
        SELECT stratum, n_rows, stddev,
            CAST(floor({n_total}.0 * round(
                _w / nullif((SELECT sum(_w) FROM weighted), 0.0), 6))
                AS BIGINT) AS alloc
        FROM weighted
    ), drawn AS (
        SELECT t.{stratum_col} AS stratum, count(*) AS took
        FROM {table} t JOIN alloc a ON t.{stratum_col} = a.stratum
        WHERE t.{value_col} IS NOT NULL
          AND CAST(concat('0x', substr(
                md5(CAST(t.{id_col} AS VARCHAR)), 1, 8)) AS BIGINT)
              % {hash_buckets}
              < floor(a.alloc * {hash_buckets}.0 / a.n_rows)
        GROUP BY 1
    )
    SELECT a.stratum, a.n_rows, a.stddev, a.alloc,
        CAST(coalesce(d.took, 0) AS BIGINT) AS took
    FROM alloc a LEFT JOIN drawn d ON a.stratum = d.stratum
    """
