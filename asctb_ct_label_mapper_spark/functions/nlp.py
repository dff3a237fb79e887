"""NLP cleaning functions (reference parity: F1-F9, A3).

The reference applies a per-word pipeline (``nlp_preprocessing.py:42-70``):
remove_whitespaces -> expand_word_contractions -> replace_special_chars ->
convert_number_to_word -> make_lowercase -> get_root_word, driven word-wise
over ``label.split()`` (``main.py:82,139``), plus an ordered-distinct /
stopword-filtered variant feeding the encoder
(``nlp_preprocessing.py:88-99``).

Engine design (SURVEY §2.6):

- ``clean_word_expr`` / ``clean_text_expr`` — the native-expression subset
  (F1 remove spaces, F3 strip non-alphanumerics, F5 lowercase) fused into a
  single Catalyst expression. Stays inside whole-stage codegen; this is the
  hot path used by the oracle-checked queries.
- ``clean_text_full_udf`` — the full six-step pipeline as an Arrow-vectorized
  pandas UDF. ``contractions`` / ``num2words`` / ``nltk`` are not available
  in every runtime, so each step degrades to a deterministic pure-Python
  fallback (documented below). Heavy objects are built once per Python
  worker, never per word (fixes the reference's per-word
  ``WordNetLemmatizer()`` / ``stopwords.words()`` cost,
  ``nlp_preprocessing.py:34-39``).
- ``embedding_text_expr`` — A3 ordered-distinct words with the reference's
  quirk preserved: the stopword test runs on the RAW word while the CLEANED
  word is appended (``nlp_preprocessing.py:96-97``).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Standard NLTK english stopword list (public corpus, 179 words) embedded so
# the engine needs no download; matches stopwords.words('english').
STOPWORDS: frozenset[str] = frozenset(
    """i me my myself we our ours ourselves you you're you've you'll you'd
    your yours yourself yourselves he him his himself she she's her hers
    herself it it's its itself they them their theirs themselves what which
    who whom this that that'll these those am is are was were be been being
    have has had having do does did doing a an the and but if or because as
    until while of at by for with about against between into through during
    before after above below to from up down in out on off over under again
    further then once here there when where why how all any both each few
    more most other some such no nor not only own same so than too very s t
    can will just don don't should should've now d ll m o re ve y ain aren
    aren't couldn couldn't didn didn't doesn doesn't hadn hadn't hasn hasn't
    haven haven't isn isn't ma mightn mightn't mustn mustn't needn needn't
    shan shan't shouldn shouldn't wasn wasn't weren weren't won won't wouldn
    wouldn't""".split()
)

_STOPWORDS_SORTED = sorted(STOPWORDS)

# SQL-side predicate for "w is not an english stopword and w != 'NaN'"
# (reference is_not_stopword, nlp_preprocessing.py:38-39).
_SQL_STOPWORD_LIST = ", ".join("'" + w.replace("'", "''") + "'" for w in _STOPWORDS_SORTED)


def clean_word_expr(word: Column) -> Column:
    """Native F1+F3+F5: strip spaces, strip non-alphanumerics, lowercase.

    Reference: nlp_preprocessing.py:19-20 (F1), :25-26 (F3), :31-32 (F5).
    F1's space removal is subsumed by F3's character class; kept explicit in
    one regex for clarity. Pure Catalyst expression — codegen-friendly.
    """
    return F.lower(F.regexp_replace(word, "[^a-zA-Z0-9]", ""))


def clean_text_expr(text: Column) -> Column:
    """Word-wise native cleaning pipeline (F8 composition, main.py:82).

    split on any whitespace run, drop empty tokens, clean each word,
    join(' ') — faithful to the reference's no-argument ``label.split()``
    (main.py:82,139), which splits on arbitrary whitespace and drops
    empties (so tabs / consecutive spaces collapse). Cleaned-to-empty words
    are KEPT (the reference joins them too), only raw empties are dropped.
    Restricted to the native steps F1/F3/F5.

    Whitespace class is ASCII (Java ``\\s``); Python's split() additionally
    treats \\x1c-\\x1f / NEL / NBSP / Unicode Zs as whitespace — documented
    divergence on exotic inputs (label corpora are ASCII).
    """
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    return F.array_join(F.transform(toks, clean_word_expr), " ")


def embedding_text_expr(text: Column, max_text_length: int = 150) -> Column:
    """A3: truncate, clean word-wise, ordered-distinct, stopword-filter.

    Faithful to nlp_preprocessing.py:88-99 including both quirks:
    - the RAW word is tested against the stopword set while the CLEANED word
      is appended (``is_not_stopword(word)`` at :96);
    - first-seen order of the CLEANED word is preserved (``unique_words``
      set at :91-99) — ``array_distinct`` keeps first occurrence.
    """
    truncated = F.substring(text, 1, max_text_length)
    words = F.split(truncated, r"\s+")
    kept = F.filter(
        words,
        lambda w: (w != "") & (~w.isin(*_STOPWORDS_SORTED)) & (w != F.lit("NaN")),
    )
    cleaned = F.transform(kept, clean_word_expr)
    return F.array_join(F.array_distinct(cleaned), " ")


# --- full-pipeline pandas UDF (F2/F4/F6 need Python) ------------------------

_SMALL_NUMBERS = (
    "zero one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
).split()
_TENS = "zero ten twenty thirty forty fifty sixty seventy eighty ninety".split()

# Deterministic fallback table for the most common english contractions
# (used only when the `contractions` package is unavailable).
_CONTRACTIONS_FALLBACK = {
    "don't": "do not", "doesn't": "does not", "didn't": "did not",
    "can't": "cannot", "won't": "will not", "isn't": "is not",
    "aren't": "are not", "wasn't": "was not", "weren't": "were not",
    "it's": "it is", "that's": "that is", "i'm": "i am", "i've": "i have",
    "you're": "you are", "they're": "they are", "we're": "we are",
    "couldn't": "could not", "shouldn't": "should not",
    "wouldn't": "would not", "hasn't": "has not", "haven't": "have not",
}


def _num_to_words(n: int) -> str:
    """Deterministic integer->english words (fallback for num2words, F4)."""
    if n < 20:
        return _SMALL_NUMBERS[n]
    if n < 100:
        tens, rem = divmod(n, 10)
        return _TENS[tens] + ("-" + _SMALL_NUMBERS[rem] if rem else "")
    if n < 1000:
        hundreds, rem = divmod(n, 100)
        out = _SMALL_NUMBERS[hundreds] + " hundred"
        return out + (" and " + _num_to_words(rem) if rem else "")
    for unit, name in ((10**9, "billion"), (10**6, "million"), (10**3, "thousand")):
        if n >= unit:
            major, rem = divmod(n, unit)
            out = _num_to_words(major) + " " + name
            return out + (" " + _num_to_words(rem) if rem else "")
    return str(n)


class _FullPipeline:
    """Per-worker cached implementation of the six-step word pipeline.

    Expensive resources (lemmatizer, contraction table) are constructed once
    per Python worker process — the reference re-creates them per word
    (nlp_preprocessing.py:34-39), an O(rows*words) cost this amortizes away.
    """

    _instance = None

    def __init__(self) -> None:
        try:  # optional dependency: contractions
            import contractions  # type: ignore

            self._fix_contraction = contractions.fix
        except Exception:
            self._fix_contraction = lambda w: _CONTRACTIONS_FALLBACK.get(w.lower(), w)
        try:  # optional dependency: num2words
            from num2words import num2words  # type: ignore

            self._num2words = num2words
        except Exception:
            self._num2words = lambda w: _num_to_words(int(w))
        try:  # optional dependency: nltk WordNet lemmatizer
            from nltk.stem import WordNetLemmatizer  # type: ignore

            lemmatizer = WordNetLemmatizer()
            lemmatizer.lemmatize("cells")  # force corpus load; raises if absent
            self._lemmatize = lemmatizer.lemmatize
        except Exception:
            self._lemmatize = lambda w: w

    @classmethod
    def get(cls) -> "_FullPipeline":
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance

    def clean_word(self, word: str) -> str:
        word = word.replace(" ", "")  # F1
        word = self._fix_contraction(word)  # F2
        word = re.sub("[^a-zA-Z0-9]*", "", word)  # F3 (reference regex verbatim)
        if word.isdigit():  # F4
            word = str(self._num2words(word if self._num2words is not _num_to_words else int(word)))
        word = word.lower()  # F5
        return self._lemmatize(word).rstrip("s")  # F6 incl. rstrip quirk

    def clean_text(self, text: str) -> str:
        return " ".join(self.clean_word(w) for w in text.split())


@F.pandas_udf(T.StringType())
def clean_text_full_udf(texts: pd.Series) -> pd.Series:
    """Full F1-F6 pipeline over whole labels (split/clean/join, F8).

    Arrow-vectorized; one `_FullPipeline` per worker. Null-safe (null->null).
    """
    pipe = _FullPipeline.get()
    return texts.map(lambda t: None if t is None else pipe.clean_text(t))


def sql_clean_text(col_sql: str) -> str:
    """ANSI-SQL (DuckDB) equivalent of ``clean_text_expr`` for oracles:
    the same split-on-whitespace-runs / drop-empties / per-word clean /
    single-space join, mirrored structurally (not a flat regexp_replace,
    which would diverge on consecutive-whitespace inputs)."""
    word = "lower(regexp_replace(x, '[^a-zA-Z0-9]', '', 'g'))"
    return (
        f"array_to_string(list_transform(list_filter("
        f"string_split_regex({col_sql}, '\\s+'), x -> x <> ''), x -> {word}), ' ')"
    )


def sql_not_stopword(word_sql: str) -> str:
    """DuckDB predicate mirroring ``is_not_stopword`` (raw word test)."""
    return f"({word_sql} NOT IN ({_SQL_STOPWORD_LIST}) AND {word_sql} <> 'NaN')"


# --- DuckDB oracle for the FULL pipeline's deterministic fallback path -------
#
# When contractions/num2words/nltk are absent (this container),
# clean_text_full_udf runs a fully deterministic path: contraction table ->
# strip non-alnum -> digit->words (<1000 needed by the registry fixture) ->
# lower -> identity-lemmatize + rstrip('s'). That path is SQL-expressible, so
# F2/F4/F6 get a real cross-engine oracle (VERDICT r4 next-steps #5).


def _sql_small(n_sql: str) -> str:
    branches = " ".join(f"WHEN {i} THEN '{w}'" for i, w in enumerate(_SMALL_NUMBERS))
    return f"(CASE {n_sql} {branches} END)"


def _sql_tens(n_sql: str) -> str:
    branches = " ".join(
        f"WHEN {i} THEN '{w}'" for i, w in enumerate(_TENS) if i >= 2
    )
    return f"(CASE {n_sql} {branches} END)"


def _sql_under_100(n_sql: str) -> str:
    return (
        f"(CASE WHEN {n_sql} < 20 THEN {_sql_small(n_sql)} "
        f"ELSE {_sql_tens(f'(({n_sql})//10)')} || "
        f"(CASE WHEN ({n_sql})%10 > 0 THEN '-' || {_sql_small(f'(({n_sql})%10)')} "
        f"ELSE '' END) END)"
    )


def _sql_num_words(n_sql: str) -> str:
    """integer (0..999) -> english words, mirroring ``_num_to_words``."""
    return (
        f"(CASE WHEN {n_sql} < 100 THEN {_sql_under_100(n_sql)} "
        f"ELSE {_sql_small(f'(({n_sql})//100)')} || ' hundred' || "
        f"(CASE WHEN ({n_sql})%100 > 0 THEN "
        f"' and ' || {_sql_under_100(f'(({n_sql})%100)')} ELSE '' END) END)"
    )


def sql_clean_word_full(w_sql: str) -> str:
    """DuckDB mirror of ``_FullPipeline.clean_word`` on the fallback path.

    Order preserved from the reference pipeline (nlp_preprocessing.py:60-70):
    F2 contraction (case-insensitive table, expansion may contain a space
    which F3 then strips — quirk kept), F3 strip non-alnum, F4 digits->words
    (AFTER F3, so only pure-digit tokens fire), F5 lower, F6 rstrip('s')
    (strips ALL trailing s chars: 'glass' -> 'gla', as in Python rstrip).
    """
    branches = " ".join(
        f"WHEN '{k.replace(chr(39), chr(39) * 2)}' THEN '{v}'"
        for k, v in sorted(_CONTRACTIONS_FALLBACK.items())
    )
    w2 = f"(CASE lower({w_sql}) {branches} ELSE {w_sql} END)"
    w3 = f"regexp_replace({w2}, '[^a-zA-Z0-9]', '', 'g')"
    w4 = (
        f"(CASE WHEN {w3} ~ '^[0-9]+$' "
        f"THEN {_sql_num_words(f'CAST({w3} AS INTEGER)')} ELSE {w3} END)"
    )
    return f"regexp_replace(lower({w4}), 's+$', '')"


def sql_clean_text_full(col_sql: str) -> str:
    """DuckDB mirror of ``clean_text_full_udf`` (fallback path): no-arg
    split semantics (whitespace runs, drop empties) -> full per-word clean
    -> single-space join."""
    return (
        f"array_to_string(list_transform(list_filter("
        f"string_split_regex({col_sql}, '\\s+'), x -> x <> ''), "
        f"x -> {sql_clean_word_full('x')}), ' ')"
    )


# --- unicode normalization ---------------------------------------------------


def nfc_normalize_udf():
    """Arrow-vectorized Unicode NFC normalization — the canonicalization a
    multilingual web corpus needs before ANY hashing/dedup/tokenization:
    composed ("é") and decomposed ("e"+U+0301) spellings of the same text
    hash differently, so un-normalized corpora leak duplicates past every
    content-hash family. Python's unicodedata implements the same UAX #15
    algorithm DuckDB's ``nfc_normalize`` does, so the output is
    cross-engine hash-checkable."""
    import unicodedata

    @F.pandas_udf(T.StringType())
    def _nfc(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _nfc


# C0/C1 controls EXCLUDING \t \n \r (09/0A/0D are whitespace, handled by
# the \s+ collapse, not deletion — deleting them would glue words). The
# \x{..} form is the Java-regex/RE2 common syntax (\uXXXX is Java-only).
CONTROL_CHAR_RE = "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]"


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "normalized"
) -> DataFrame:
    """Full text canonicalization pass: NFC -> strip C0/C1 control
    characters (tab/newline/CR excluded: they are whitespace) -> collapse
    whitespace runs to single spaces -> trim. One Arrow pass for the NFC
    step (no native Spark expression exists), native regexp for the rest —
    narrow, zero shuffle, streams through the scan at 100 TB. Adds
    ``out_col``."""
    nfc = nfc_normalize_udf()(F.col(text_col))
    stripped = F.regexp_replace(nfc, CONTROL_CHAR_RE, "")
    collapsed = F.trim(F.regexp_replace(stripped, "\\s+", " "))
    return df.withColumn(out_col, collapsed)
