"""Driver-facing query registry: every SURVEY §2 operator as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, the
DuckDB oracle that must hash-match it (CORRECTNESS gate).

Conventions (driver contract):
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name and value-hashes);
- floating aggregates are rounded (2dp money, 4dp sums of unit values,
  6dp ratios/similarities) so IEEE summation-order differences between
  engines cannot flip the hash;
- timestamps are formatted to strings so engine-native encodings agree.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark.functions.nlp import (
    clean_text_expr,
    clean_text_full_udf,
    embedding_text_expr,
    sql_clean_text,
    sql_not_stopword,
)
from asctb_ct_label_mapper_spark.functions.vector import cosine_expr, stub_encode_udf
from asctb_ct_label_mapper_spark.operators.dedup import (
    dup_ngram_spans,
    exact_dedup_flags,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    remove_dup_ngrams,
    simhash_near_dup_pairs,
    sql_dup_ngram_spans,
    sql_remove_dup_ngrams,
)
from asctb_ct_label_mapper_spark.operators.mapping import (
    map_labels_to_reference,
    overwrite_exact_matches,
)
from asctb_ct_label_mapper_spark.operators.setops import venn_regions
from asctb_ct_label_mapper_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
    top_k_similarity_blocked,
    top_k_similarity_join,
)
from asctb_ct_label_mapper_spark.operators.curation import (
    capped_sample,
    chunk_documents,
    hash_split,
    mixture_budget_sample,
    pack_sequences,
    pii_scrub,
    quality_rules,
    sql_capped_sample,
    sql_chunk_documents,
    sql_mixture_budget_sample,
    sql_quality_rules,
    sql_hash_split,
    sql_pack_sequences,
    sql_pii_scrub,
    sql_stratified_sample,
    stratified_sample,
)
from asctb_ct_label_mapper_spark.operators.contamination import (
    bigram_logppl,
    ngram_contamination,
    sql_bigram_logppl,
    sql_ngram_contamination,
    sql_unigram_logppl,
    unigram_logppl,
)
from asctb_ct_label_mapper_spark.operators.quantize import (
    quantize_error_stats,
    sql_quantize_error_stats,
)
from asctb_ct_label_mapper_spark.operators.textstats import (
    bpe_tokenize_stats,
    corpus_divergence,
    sql_corpus_divergence,
    fingerprint,
    lang_id,
    inverted_index,
    repetition_stats,
    sql_bpe_tokenize_stats,
    sql_fingerprint,
    sql_inverted_index,
    sql_lang_id,
    sql_repetition_stats,
    sql_text_stats,
    sql_tfidf_topk,
    sql_token_topn,
    text_stats,
    tfidf_topk,
    token_topn,
)
from asctb_ct_label_mapper_spark.operators.unpivot import ct_triplet_unpivot
from asctb_ct_label_mapper_spark.sources.sinks import (
    corpus_manifest,
    sql_corpus_manifest,
)
from asctb_ct_label_mapper_spark.streaming.events import tumbling_counts

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
_QUERY_IDENTITIES: dict[str, tuple] = {}
ORACLES: dict[str, str] = {}

# Per-module "execution pass" tracking for the shadow guard. Within one
# top-to-bottom module execution, @query def lines strictly increase; a
# registration whose def line is <= the module's last-seen line therefore
# marks the start of a NEW pass (importlib.reload / re-exec). Names
# registered in the CURRENT pass live in _MODULE_PASS_NAMES — a repeat
# within one pass is a copy-paste duplicate (raise); a repeat across
# passes by the same (module, qualname) is a legal reload re-registration
# even when an edit shifted its def line. Conservative edge: a module
# with a SINGLE @query whose def moved strictly DOWN re-registers before
# any backward line is seen, so it reads as a same-pass duplicate and
# raises — the guard errs toward raising, and the message names both def
# sites; any module with >= 2 queries resets the pass on its first
# re-registration (the previous pass's last line is the module's bottom).
_MODULE_PASS_NAMES: dict[str, set[str]] = {}
_MODULE_PASS_LAST_LINE: dict[str, int] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from asctb_ct_label_mapper_spark.schemas import load_table

    return load_table(spark, sf_dir, name)


def _fixture_dir(name: str) -> str:
    """Per-PROCESS fixture directory for write→read-back round-trip
    queries.  A fixed shared path under mode=overwrite lets two
    concurrent sessions (bench + correctness run) clobber the directory
    while the other's lazy read-back is scanning it (r12 ADVICE item on
    orc_roundtrip); the pid suffix makes the path unique per session
    while staying stable ACROSS calls within one session (so write-once
    markers and re-runs still hit their own files).  Dead processes'
    leftovers are swept on entry (r12 second review pass — without it
    every finished run leaks its fixture copies forever)."""
    import os

    from asctb_ct_label_mapper_spark.sources.bucketing import (
        sweep_stale_pid_dirs,
    )

    sweep_stale_pid_dirs("/tmp/spark_graft_fixtures", r"_pid(\d+)$")
    return f"/tmp/spark_graft_fixtures/{name}_pid{os.getpid()}"


def query(name: str, oracle: str | None = None):
    def wrap(fn: QueryFn) -> QueryFn:
        import functools

        from asctb_ct_label_mapper_spark.plans.cache import drain_persist_pool

        @functools.wraps(fn)
        def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            # cache hygiene (VERDICT r6 #9): release the PREVIOUS query's
            # pooled persists so a long-lived registry session never
            # accumulates executor cache across queries
            drain_persist_pool()
            return fn(spark, sf_dir)

        # Shadow guard (r10, VERDICT r9 #7): a second registration of
        # the same name by a DIFFERENT function silently replaced the
        # first in r9 (the stratified_sample collision precedent —
        # later def wins, the earlier operator vanishes from the
        # registry with no failing test). Identity is
        # (module, qualname, def line); the def line catches the
        # same-module copy-paste duplicate (same qualname, different
        # def site — the most common collision). To keep module
        # re-import legal even when an EDIT shifts def lines (r10
        # second review pass), line mismatches are only fatal within
        # one execution PASS of the module — see _MODULE_PASS_NAMES.
        # re-registering a previously returned wrapper (module
        # re-import / idempotent setup) must present the ORIGINAL def's
        # identity, not the shared entry() code object's
        ident = getattr(fn, "__query_identity__", None) or (
            fn.__module__,
            fn.__qualname__,
            getattr(getattr(fn, "__code__", None), "co_firstlineno", None),
        )
        mod = ident[0]
        line = ident[2]
        if line is not None and line <= _MODULE_PASS_LAST_LINE.get(mod, -1):
            # def lines went backwards: the module restarted executing
            # from the top (reload) — previous pass's names are stale
            _MODULE_PASS_NAMES[mod] = set()
        if line is not None:
            _MODULE_PASS_LAST_LINE[mod] = line
        pass_names = _MODULE_PASS_NAMES.setdefault(mod, set())
        prior = _QUERY_IDENTITIES.get(name)
        if prior is not None and prior != ident:
            same_def = prior[0] == ident[0] and prior[1] == ident[1]
            reload_reregistration = same_def and name not in pass_names
            if not reload_reregistration:
                raise ValueError(
                    f"query name {name!r} is already registered by "
                    f"{prior[0]}.{prior[1]} (line {prior[2]}); duplicate "
                    f"registration from {ident[0]}.{ident[1]} "
                    f"(line {ident[2]})"
                )
        pass_names.add(name)
        _QUERY_IDENTITIES[name] = ident
        entry.__query_identity__ = ident
        QUERIES[name] = entry
        if oracle is not None:
            ORACLES[name] = oracle
        return entry

    return wrap


# =============================================================================
# Relational core over the TPC-H-ish tables (SURVEY §2.2-§2.5, §2.7)
# =============================================================================


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
        CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        round(avg(l_discount), 6) AS avg_disc,
        count(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-aggregation sweep (map-side partial agg -> one shuffle on the
    2x2 grouping key; Catalyst plans HashAggregate pairs)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q3_revenue_topn",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, order_date
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + global deterministic top-n. customer filter is
    pushed to the scan; customer side broadcasts under AQE."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact table shuffles once per big join; nation/region are
    broadcast dims."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "p4_projection_filter",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_size < 15
    """,
)
def p4_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P7: projection + pushed-down predicate (scan reads 4 columns,
    PushedFilters carries LessThan(p_size,15))."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") < 15)
        .select("p_partkey", "p_name", "p_retailprice")
    )


@query(
    "p5_null_sentinel",
    """
    SELECT c_custkey,
        coalesce(nullif(c_mktsegment, 'BUILDING'), 'SEGMENT UNK') AS segment
    FROM customer
    """,
)
def p5_null_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 sentinel imputation (reference: CT_ID null -> 'ASCTB CT_ID UNK',
    asctb_data_wrangling.py:111). nullif synthesizes the nulls since the
    driver tables are null-free."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("SEGMENT UNK")
        ).alias("segment"),
    )


@query(
    "p6_conditional_impute",
    """
    SELECT o_orderkey,
        CASE WHEN o_totalprice > 300000 THEN 'HIGH'
             WHEN o_totalprice > 150000 THEN 'MID'
             ELSE 'LOW' END AS price_band
    FROM orders
    """,
)
def p6_conditional_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 conditional imputation as when/otherwise chains."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "HIGH")
        .when(F.col("o_totalprice") > 150000, "MID")
        .otherwise("LOW")
        .alias("price_band"),
    )


@query(
    "p8_semijoin",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def p8_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 membership predicate as a left-semi join (reference's isin mask,
    main.py:149-152)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "p8_antijoin",
    """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    """,
)
def p8_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join complement of p8 (engine-inherited join type, SURVEY §2.4):
    orders with no high-quantity line."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "r2_union_all",
    """
    SELECT 'customer' AS side, c_custkey AS acct_key, round(c_acctbal, 2) AS acctbal
    FROM customer
    UNION ALL
    SELECT 'supplier' AS side, s_suppkey AS acct_key, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def r2_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 vertical union (UNION ALL semantics, duplicates preserved)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("side"),
        F.col("c_custkey").alias("acct_key"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"),
        F.col("s_suppkey").alias("acct_key"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    return cust.unionByName(supp)


@query(
    "r3_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def r3_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 distinct (one shuffle on the pair key)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "r4_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def r4_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 set intersection."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@query(
    "r4_except",
    """
    SELECT c_custkey AS keyval FROM customer WHERE c_acctbal > 8000
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def r4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 set difference: high-balance customers who never placed a
    very large order."""
    a = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .select(F.col("c_custkey").alias("keyval"))
    )
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("keyval"))
    )
    # subtract == EXCEPT (set) semantics: a value present in b at ALL is
    # dropped regardless of its multiplicity in a. exceptAll().distinct()
    # would keep values whose multiplicity in a exceeds that in b.
    return a.subtract(b)


@query(
    "r5_venn_regions",
    """
    WITH a AS (SELECT DISTINCT c_nationkey AS label FROM customer
               WHERE c_acctbal > 9900),
         b AS (SELECT DISTINCT s_nationkey AS label FROM supplier
               WHERE s_acctbal > 9000),
         f AS (SELECT coalesce(a.label, b.label) AS label,
                      CASE WHEN a.label IS NULL THEN 0 ELSE 1 END AS in_a,
                      CASE WHEN b.label IS NULL THEN 0 ELSE 1 END AS in_b
               FROM a FULL OUTER JOIN b ON a.label = b.label)
    SELECT concat(CAST(in_a AS VARCHAR), CAST(in_b AS VARCHAR)) AS region,
           count(*) AS n_labels
    FROM f GROUP BY 1
    """,
)
def r5_venn_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4/R5 venn-region counts in ONE pass (full-outer presence flags +
    groupBy) instead of the reference's 7 set expressions
    (plotting.py:22-54)."""
    a = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").alias("label"))
    )
    b = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("label"))
    )
    return venn_regions(a, b)


@query(
    "f_array_pack",
    """
    SELECT vec_id,
        len(embedding) AS dim,
        round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
        round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
        round(CAST(list_sort(embedding)[2] AS DOUBLE), 6) AS second_smallest,
        len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def f_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the vector column: indexing, min/max,
    sort, filter — all native higher-order expressions."""
    e = _t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max(emb).cast("double"), 6).alias("max_val"),
        F.round(F.array_min(emb).cast("double"), 6).alias("min_val"),
        F.round(F.element_at(F.array_sort(emb), 2).cast("double"), 6).alias(
            "second_smallest"
        ),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "venn3_regions",
    """
    WITH a AS (SELECT DISTINCT c_nationkey AS label FROM customer
               WHERE c_acctbal > 9900),
         b AS (SELECT DISTINCT s_nationkey AS label FROM supplier
               WHERE s_acctbal > 9000),
         c AS (SELECT DISTINCT c_nationkey AS label
               FROM customer JOIN orders ON o_custkey = c_custkey
               WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000),
         ab AS (SELECT coalesce(a.label, b.label) AS label,
                       CASE WHEN a.label IS NULL THEN 0 ELSE 1 END AS in_a,
                       CASE WHEN b.label IS NULL THEN 0 ELSE 1 END AS in_b
                FROM a FULL OUTER JOIN b ON a.label = b.label),
         f AS (SELECT coalesce(ab.label, c.label) AS label,
                      coalesce(in_a, 0) AS in_a, coalesce(in_b, 0) AS in_b,
                      CASE WHEN c.label IS NULL THEN 0 ELSE 1 END AS in_c
               FROM ab FULL OUTER JOIN c ON ab.label = c.label)
    SELECT concat(CAST(in_a AS VARCHAR), CAST(in_b AS VARCHAR),
                  CAST(in_c AS VARCHAR)) AS region,
           count(*) AS n_labels
    FROM f GROUP BY 1
    """,
)
def venn3_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way venn regions (reference plotting.py:46-53 Counter keys) in one
    pass: chained full-outer presence flags + a single groupBy."""
    a = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").alias("label"))
    )
    b = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("label"))
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 350000)
    )
    c = cust.join(orders, cust["c_custkey"] == orders["o_custkey"]).select(
        F.col("c_nationkey").alias("label")
    )
    return venn_regions(a, b, c)


@query(
    "a1_topk_window",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn AS rank
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def a1_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 per-group top-k via row_number (Spark plans a partial top-k sort
    per partition before the window shuffle)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rank",
        )
    )


@query(
    "a2_pivot_status",
    """
    SELECT o_orderpriority,
        count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
        count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
        count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def a2_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 rank-pivot analogue: long->wide with an explicit value list (so
    Catalyst skips the distinct-values job)."""
    piv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@query(
    "a4_distinct_counts",
    """
    SELECT l_returnflag,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps,
        count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a4_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 distinct counts (expand + two-phase agg in Spark)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "w_running_total",
    """
    SELECT o_custkey, o_orderkey,
        round(sum(o_totalprice) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def w_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 window frame: per-customer running revenue."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "w_lag_lead_pack",
    """
    SELECT event_id, user_id,
        round(coalesce(lag(value) OVER w, -1.0), 6) AS prev_value,
        round(coalesce(lead(value) OVER w, -1.0), 6) AS next_value,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        round(percent_rank() OVER w, 6) AS pct_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w_lag_lead_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 analytic-window pack: lag/lead/ntile/percent_rank over each
    user's event timeline. Total order inside the partition is
    (ts, event_id) so boundary rows — and therefore the hash — are
    deterministic; nulls at partition edges are coalesced to a sentinel
    both engines agree on."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.coalesce(F.lag("value").over(w), F.lit(-1.0)), 6).alias("prev_value"),
        F.round(F.coalesce(F.lead("value").over(w), F.lit(-1.0)), 6).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query(
    "sample_stratified",
    sql_stratified_sample(
        "documents", "doc_id", "lang", {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (curation.stratified_sample):
    the dominant language is kept at 25%, the rest at 100%, with
    membership a pure function of md5(doc_id) — re-runs, repartitions, and
    engines agree row-for-row (unlike seeded sampleBy), so rebalanced
    corpora are reproducible for ablations. Narrow plan, zero shuffle."""
    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0},
    )


@query(
    "g_rollup_counts",
    """
    SELECT r_name, n_name, count(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def g_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (engine-inherited; absent in the reference,
    SURVEY §2.5)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q17_below_avg_qty",
    """
    SELECT l.l_partkey,
        count(*) AS n_small_lines,
        round(sum(l.l_extendedprice), 2) AS small_revenue
    FROM lineitem l
    JOIN (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON l.l_partkey = a.pk
    WHERE l.l_quantity < 0.5 * a.avg_qty
    GROUP BY l.l_partkey
    """,
)
def q17_below_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate pattern (TPC-H Q17 shape): each line compared
    to its part's average quantity — decorrelated into a self-join against
    the per-part aggregate, the plan Catalyst produces for the subquery."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(avg_qty, li["l_partkey"] == avg_qty["pk"])
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: FACT-to-FACT existential semi join (orders EXISTS
    lineitem) with a non-equi residual (l_shipdate > o_orderdate) — the
    date filter prunes the probe side BEFORE the shuffle, and leftsemi
    stops at the first match per order instead of expanding line rows.
    (P8's semi join is dim-scale; this is the both-sides-big flavor whose
    shuffle is keyed on the join key at fact cardinality.)"""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "leftsemi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "a_having_filter",
    """
    SELECT o_custkey, count(*) AS n_orders,
        round(sum(o_totalprice), 2) AS total_spend
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 15
    """,
)
def a_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "f_scalar_pack",
    """
    SELECT p_partkey,
        translate(p_type, ' ', '_') AS type_norm,
        substring(p_name, 1, 10) AS name_trunc,
        coalesce(p_name || ' ' || nullif(p_brand, 'Brand#45'), p_name) AS all_text
    FROM part
    """,
)
def f_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 truncation + F10 id normalization + F11 NULL-PROPAGATING concat
    with P6 fallback (asctb_data_wrangling.py:205-207): F.concat nulls the
    whole string when any component is null — deliberately NOT concat_ws."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_type", " ", "_").alias("type_norm"),
        F.substring("p_name", 1, 10).alias("name_trunc"),
        F.coalesce(
            F.concat(F.col("p_name"), F.lit(" "), F.nullif(F.col("p_brand"), F.lit("Brand#45"))),
            F.col("p_name"),
        ).alias("all_text"),
    )


@query(
    "f_math_pack",
    """
    SELECT p_partkey,
        round(sqrt(p_retailprice), 6) AS sqrt_price,
        round(ln(p_retailprice + 1), 6) AS log_price,
        round(pow(p_size, 2), 1) AS size_sq,
        abs(p_size - 25) AS size_dev,
        CAST(p_size % 7 AS INTEGER) AS size_mod
    FROM part
    """,
)
def f_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function surface (engine-inherited, exercised per SURVEY §2.6
    'Date/math functions' note)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.round(F.log(F.col("p_retailprice") + 1), 6).alias("log_price"),
        F.round(F.pow("p_size", F.lit(2)), 1).alias("size_sq"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
    )


@query(
    "dt_date_pack",
    """
    SELECT o_orderkey,
        CAST(year(o_orderdate) AS INTEGER) AS yr,
        CAST(month(o_orderdate) AS INTEGER) AS mo,
        CAST(day(o_orderdate) AS INTEGER) AS dom,
        strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
        CAST(date_diff('day', DATE '2024-01-01', o_orderdate) AS INTEGER)
            AS days_since_2024
    FROM orders
    """,
)
def dt_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: extraction, arithmetic, formatting."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_2024"
        ),
    )


@query(
    "f_string_pack2",
    """
    SELECT c_custkey,
        regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_padded,
        reverse(c_mktsegment) AS segment_rev,
        CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
        upper(substring(c_mktsegment, 1, 3)) AS seg3
    FROM customer
    """,
)
def f_string_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string-function surface (regexp groups, padding, reverse,
    position) — engine-inherited breadth beyond the reference's F-ops."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
        F.reverse("c_mktsegment").alias("segment_rev"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.upper(F.substring("c_mktsegment", 1, 3)).alias("seg3"),
    )


@query(
    "dt_events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def dt_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch flavor of streaming.tumbling_counts — the same
    builder serves readStream (SURVEY §2.8)."""
    return tumbling_counts(_t(spark, sf_dir, "events"), "1 hour", streaming=False)


@query(
    "e_sessionize",
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts)
                 >= 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM events
    ), ids AS (
        SELECT user_id, ts, value,
            sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*) AS n_events,
        round(sum(value), 4) AS sum_value
    FROM ids GROUP BY user_id, session_id
    """,
)
def e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), batch flavor of the
    streaming ``session_window`` operator — gap-and-islands via window
    functions, oracle-checked; the streaming path is exercised in tests."""
    from asctb_ct_label_mapper_spark.streaming.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), "30 minutes", streaming=False)


@query(
    "j_asof_markers",
    """
    WITH m AS (
        SELECT user_id, ts, max(value) AS marker_value
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts,
           m.ts AS ts_asof, m.marker_value
    FROM (SELECT event_id, user_id, ts FROM events) e
    ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
    """,
)
def j_asof_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): every event matched to the user's
    most recent prior error marker. Spark lacks a native ASOF JOIN; the
    operator is the union + keyed-window formulation (one shuffle, no row
    expansion — see operators/asof.py) and DuckDB's native ASOF LEFT JOIN
    is the oracle."""
    from asctb_ct_label_mapper_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    markers = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("marker_value"))
    )
    return asof_join(
        events.select("event_id", "user_id", "ts"),
        markers,
        key_cols=["user_id"],
        right_value_cols=["marker_value"],
    )


@query(
    "j_asof_bucketed",
    """
    WITH m AS (
        SELECT user_id, ts, max(value) AS marker_value
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts,
           m.ts AS ts_asof, m.marker_value
    FROM (SELECT event_id, user_id, ts FROM events) e
    ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts >= m.ts
    """,
)
def j_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE as-of join (asof.asof_join bucket='month'): same
    semantics and the same DuckDB ASOF oracle as j_asof_markers, but the
    match runs as a per-(key, month) window plus a per-key carry over
    bucket summaries — a hot key's sort is split across its months
    instead of serializing into one task (the segmented-carry pattern
    the EWMA scan uses). Result-identical to the plain window
    (test_asof_bucketed_equals_plain proves it on all four
    direction/tolerance flavors)."""
    from asctb_ct_label_mapper_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    markers = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("marker_value"))
    )
    return asof_join(
        events.select("event_id", "user_id", "ts"),
        markers,
        key_cols=["user_id"],
        right_value_cols=["marker_value"],
        bucket="month",
    )


@query(
    "j_range_windows",
    """
    WITH w AS (
        SELECT user_id, ts AS w_start, ts + INTERVAL 10 MINUTE AS w_end
        FROM events WHERE event_type = 'error'
    )
    SELECT e.event_id, e.user_id, e.ts, w.w_start, w.w_end
    FROM (SELECT event_id, user_id, ts FROM events) e
    JOIN w ON e.user_id = w.user_id
          AND e.ts >= w.w_start AND e.ts <= w.w_end
    """,
)
def j_range_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: every event inside a 10-minute
    window following one of the same user's error events. Executed as a
    bucketized EQUI-join (operators/rangejoin.py) — never the
    BroadcastNestedLoopJoin a raw BETWEEN theta-join would plan — and
    oracle-checked against DuckDB's inequality join."""
    from asctb_ct_label_mapper_spark.operators.rangejoin import range_join

    events = _t(spark, sf_dir, "events")
    windows = events.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    return range_join(
        events.select("event_id", "user_id", "ts"),
        windows,
        key_cols=["user_id"],
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        bucket="10 minutes",
    )


@query(
    "j_view_click_attribution",
    """
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_time,
        date_diff('second', v.ts, c.ts) AS lag_seconds
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
    """,
)
def j_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View->click attribution pairs (streaming/events.view_click_pairs,
    batch flavor): each click joined to every prior view by the same user
    within 10 minutes. The same builder with streaming=True is the
    canonical watermarked stream-stream interval join (tested with
    availableNow); batch is oracle-checked here."""
    from asctb_ct_label_mapper_spark.streaming.events import view_click_pairs

    return view_click_pairs(_t(spark, sf_dir, "events"))


@query(
    "j_view_click_unmatched",
    """
    SELECT v.event_id AS view_id, v.user_id,
        c.event_id AS click_id,
        strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_time,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        date_diff('second', v.ts, c.ts) AS lag_seconds,
        c.event_id IS NOT NULL AS matched
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
    """,
)
def j_view_click_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER attribution (streaming/events.view_click_outer, batch
    flavor): every view with its in-window clicks, PLUS the views that
    never clicked as NULL-extended rows — the denominator half of the
    attribution pipeline. The same builder with streaming=True is the
    watermarked left-outer stream-stream join whose unmatched emission
    on watermark expiry is measured as the sixth streaming bench tier
    (r13 verdict #5)."""
    from asctb_ct_label_mapper_spark.streaming.events import (
        view_click_outer,
    )

    return view_click_outer(_t(spark, sf_dir, "events"))


@query(
    "f18_json_extract",
    """
    SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
        count(*) OVER (PARTITION BY CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS k_freq
    FROM events
    """,
)
def f18_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 nested-JSON path extraction (reference navigates
    ['_embedded']['terms'][0]... at asctb_data_wrangling.py:155,178) over
    the events.props JSON column, plus a frequency window."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    w = Window.partitionBy("k_value")
    return (
        ev.select("event_id", k.alias("k_value"))
        .withColumn("k_freq", F.count(F.lit(1)).over(w))
    )


# =============================================================================
# Domain pipeline: NLP cleaning, similarity join, exact overwrite, unpivot
# =============================================================================


@query(
    "nlp_clean_docs",
    f"""
    SELECT doc_id, {sql_clean_text('text')} AS cleaned FROM documents
    """,
)
def nlp_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3/F5/F8 native cleaning pipeline over documents."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", clean_text_expr(F.col("text")).alias("cleaned")
    )


@query(
    "nlp_embed_text",
    f"""
    WITH toks AS (
        SELECT doc_id,
            unnest(string_split_regex(substring(text, 1, 150), '\\s+')) AS raw,
            unnest(range(1, len(string_split_regex(substring(text, 1, 150), '\\s+')) + 1))
                AS pos
        FROM documents
    ), cleaned AS (
        SELECT doc_id,
            lower(regexp_replace(raw, '[^a-zA-Z0-9]', '', 'g')) AS tok,
            pos
        FROM toks WHERE raw <> '' AND {sql_not_stopword('raw')}
    ), firsts AS (
        SELECT doc_id, tok, min(pos) AS first_pos FROM cleaned GROUP BY doc_id, tok
    )
    SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY first_pos), '') AS embed_text
    FROM firsts GROUP BY doc_id
    """,
)
def nlp_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 ordered-distinct embedding text (truncate -> clean -> stopword
    filter on the RAW word -> first-seen dedup of the CLEANED word),
    faithful to nlp_preprocessing.py:88-99."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", embedding_text_expr(F.col("text"), 150).alias("embed_text")
    )


def _nlp_full_label_sql() -> str:
    return (
        "concat_ws(' ', 'Don''t', p_name, CAST(p_partkey % 1000 AS VARCHAR), "
        "'25', 'cells', 'glass')"
    )


def _register_nlp_clean_full() -> None:
    from asctb_ct_label_mapper_spark.functions.nlp import sql_clean_text_full

    label_sql = _nlp_full_label_sql()
    oracle = f"""
    SELECT p_partkey, {label_sql} AS raw_label,
        {sql_clean_text_full(label_sql)} AS cleaned
    FROM part
    """

    @query("nlp_clean_full", oracle)
    def nlp_clean_full(spark: SparkSession, sf_dir: str) -> DataFrame:
        """FULL F1-F6 pipeline (F2 contractions, F4 digits->words, F6
        rstrip-lemmatize) oracle-checked on its deterministic fallback path
        (VERDICT r4 #5). The label column synthesizes contractions and
        numeric tokens around p_name, since the driver tables contain
        neither; the DuckDB oracle replays the same contraction table,
        <1000 number-to-words CASE tree, and rstrip('s') per word."""
        from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf

        p = _t(spark, sf_dir, "part")
        label = F.concat_ws(
            " ",
            F.lit("Don't"),
            F.col("p_name"),
            (F.col("p_partkey") % 1000).cast("string"),
            F.lit("25"),
            F.lit("cells"),
            F.lit("glass"),
        )
        return p.select(
            "p_partkey",
            label.alias("raw_label"),
            clean_text_full_udf(label).alias("cleaned"),
        )


_register_nlp_clean_full()


_COS_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 = 0),
         r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 <> 0),
         s AS (SELECT q.vec_id, r.rid,
                      list_cosine_similarity(q.e, r.e) AS sc
               FROM q CROSS JOIN r),
         ranked AS (SELECT vec_id, rid, sc,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY sc DESC, rid) AS rn
                    FROM s)
    SELECT vec_id, rid AS ref_id, round(sc, 6) AS score, rn AS rank
    FROM ranked WHERE rn <= 3
"""


@query("cos_topk_join", _COS_TOPK_ORACLE)
def cos_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+F13+A1: broadcast cross join + native cosine + window top-k
    (physical strategy 1)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = top_k_similarity_join(
        queries, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id"
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


@query("cos_topk_blocked", _COS_TOPK_ORACLE)
def cos_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logical operator, physical strategy 2 (blocked matmul via
    mapInPandas, zero shuffle) — hash-matched against the SAME oracle to
    prove plan-equivalence of the scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = top_k_similarity_blocked(
        queries, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id"
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


@query("cos_topk_auto", _COS_TOPK_ORACLE)
def cos_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logical operator behind `similarity_topk(impl='auto')`, which
    routes on the reference alone: the blocked matmul inside the
    broadcast budget, IVF past it, and no count of the queries.  Every
    test SF's reference is far inside the budget, so every SF runs the
    blocked rung and hash-matches the shared exact oracle — the budget
    boundary itself is unit-tested in tests/test_round13_auto.py."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        similarity_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = similarity_topk(
        queries, reference, k=3, query_id_cols=["vec_id"],
        ref_id_col="vec_id", impl="auto",
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


_COS_TOPK_QUANT_ORACLE = """
    WITH deq AS (
        SELECT vec_id,
            [floor(CAST(x AS DOUBLE) * scale + 0.5) / scale for x in embedding] AS e
        FROM (
            SELECT vec_id, embedding,
                CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS scale
            FROM (SELECT vec_id, embedding,
                      list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS amax
                  FROM embeddings)
        )
    ),
    q AS (SELECT vec_id, e FROM deq WHERE vec_id % 10 = 0),
    r AS (SELECT vec_id AS rid, e FROM deq WHERE vec_id % 10 <> 0),
    s AS (SELECT q.vec_id, r.rid, list_cosine_similarity(q.e, r.e) AS sc
          FROM q CROSS JOIN r),
    ranked AS (SELECT vec_id, rid, sc,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sc DESC, rid) AS rn
               FROM s)
    SELECT vec_id, rid AS ref_id, round(sc, 6) AS score, rn AS rank
    FROM ranked WHERE rn <= 3
"""


@query("cos_topk_quantized", _COS_TOPK_QUANT_ORACLE)
def cos_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8-QUANTIZED embeddings: quantize (4x smaller
    vectors — the representation that would be scanned/shuffled at 100 TB),
    dequantize, then the zero-shuffle blocked-matmul strategy. Oracle
    replays the identical floor-based quantization, so the approximation is
    hash-checked end-to-end, not just bounded in a unit test."""
    emb = _t(spark, sf_dir, "embeddings")
    from asctb_ct_label_mapper_spark.operators.quantize import quantize_embeddings

    deq = quantize_embeddings(emb).select(
        "vec_id",
        F.transform("q", lambda x: x.cast("double") / F.col("scale")).alias(
            "embedding"
        ),
    )
    queries = deq.filter(F.col("vec_id") % 10 == 0)
    reference = deq.filter(F.col("vec_id") % 10 != 0)
    out = top_k_similarity_blocked(
        queries, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id"
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


def _lsh_topk_oracle(
    dim: int = 64, n_planes: int = 4, n_tables: int = 4, seed: int = 7, k: int = 3
) -> str:
    """Generate the DuckDB oracle for cos_topk_lsh: per-table seeded
    hyperplanes as literals (table t uses seed+t, matching
    lsh_bucketed_topk), candidates = DISTINCT pairs colliding in ANY
    table's bucket, then exact cosine + top-k window. n_planes must equal
    what the operator's auto-sizing picks at the checked scale: refs in
    (256, 512] -> 4 planes, which holds at both sf0.001 and sf0.01
    (450 refs). An approximate-ANN result being hash-matched end-to-end is
    the point: approximation here is a deterministic function of the seed,
    not noise."""
    from asctb_ct_label_mapper_spark.operators.similarity import random_hyperplanes

    def bucket_expr(planes) -> str:
        terms = []
        for j, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    sides = {}
    for side, pred in (("qb", "= 0"), ("rb", "<> 0")):
        unions = []
        for t in range(n_tables):
            planes = random_hyperplanes(dim, n_planes, seed + t)
            unions.append(
                f"SELECT vec_id, e, {t} AS tbl, {bucket_expr(planes)} AS bucket\n"
                f"         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e\n"
                f"               FROM embeddings WHERE vec_id % 10 {pred})"
            )
        sides[side] = "\n        UNION ALL\n        ".join(unions)
    return f"""
    WITH qb AS (
        {sides["qb"]}
    ),
    rb AS (
        {sides["rb"]}
    ),
    cand AS (
        SELECT DISTINCT qb.vec_id, rb.vec_id AS rid
        FROM qb JOIN rb ON qb.tbl = rb.tbl AND qb.bucket = rb.bucket
    ),
    scored AS (
        SELECT c.vec_id, c.rid, list_cosine_similarity(q.e, r.e) AS sc
        FROM cand c
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) q
          ON q.vec_id = c.vec_id
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) r
          ON r.vec_id = c.rid
    ),
    ranked AS (
        SELECT vec_id, rid, sc,
               row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, rid) AS rn
        FROM scored
    )
    SELECT vec_id, rid AS ref_id, round(sc, 6) AS score, rn AS rank
    FROM ranked WHERE rn <= {k}
    """


def _lsh_multiprobe_oracle(
    dim: int = 64, n_planes: int = 4, n_tables: int = 4, seed: int = 7, k: int = 3
) -> str:
    """Generate the DuckDB oracle for cos_topk_lsh_mp (multiprobe=1): the
    query side probes, per table, its base bucket AND the bucket with the
    smallest-|margin| sign bit flipped — argmin via list_position of
    list_min (first minimum), matching numpy's stable argsort; the flip is
    xor with 2^argmin. Reference side and scoring identical to
    _lsh_topk_oracle."""
    from asctb_ct_label_mapper_spark.operators.similarity import random_hyperplanes

    def exprs(planes):
        lits = ["[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes]
        dots = [f"list_dot_product(e, {lit})" for lit in lits]
        bucket = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END)"
            for j, d in enumerate(dots)
        )
        absl = "[" + ", ".join(f"abs({d})" for d in dots) + "]"
        argmin = f"(list_position({absl}, list_min({absl})) - 1)"
        pow_expr = (
            "(CASE "
            + " ".join(
                f"WHEN {argmin} = {j} THEN {1 << j}"
                for j in range(len(planes))
            )
            + " END)"
        )
        return bucket, pow_expr

    q_unions, r_unions = [], []
    qsrc = (
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings "
        "WHERE vec_id % 10 = 0)"
    )
    rsrc = (
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings "
        "WHERE vec_id % 10 <> 0)"
    )
    for t in range(n_tables):
        bucket, pow_expr = exprs(random_hyperplanes(dim, n_planes, seed + t))
        q_unions.append(
            f"SELECT vec_id, e, {t} AS tbl, {bucket} AS bucket FROM {qsrc}"
        )
        q_unions.append(
            f"SELECT vec_id, e, {t} AS tbl, xor({bucket}, {pow_expr}) AS bucket "
            f"FROM {qsrc}"
        )
        r_unions.append(
            f"SELECT vec_id, e, {t} AS tbl, {bucket} AS bucket FROM {rsrc}"
        )
    qb = "\n        UNION ALL\n        ".join(q_unions)
    rb = "\n        UNION ALL\n        ".join(r_unions)
    return f"""
    WITH qb AS (
        {qb}
    ),
    rb AS (
        {rb}
    ),
    cand AS (
        SELECT DISTINCT qb.vec_id, rb.vec_id AS rid
        FROM qb JOIN rb ON qb.tbl = rb.tbl AND qb.bucket = rb.bucket
    ),
    scored AS (
        SELECT c.vec_id, c.rid, list_cosine_similarity(q.e, r.e) AS sc
        FROM cand c
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) q
          ON q.vec_id = c.vec_id
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) r
          ON r.vec_id = c.rid
    ),
    ranked AS (
        SELECT vec_id, rid, sc,
               row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, rid) AS rn
        FROM scored
    )
    SELECT vec_id, rid AS ref_id, round(sc, 6) AS score, rn AS rank
    FROM ranked WHERE rn <= {k}
    """


@query("cos_topk_lsh_mp", _lsh_multiprobe_oracle())
def cos_topk_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): per table, the query also
    probes the Hamming-1 bucket of its narrowest sign bit — recall
    recovered from boundary losses WITHOUT growing the index (the
    memory-bound regime's knob: ~L/(1+m) tables for equal recall). The
    oracle replays the margin-argmin flip with the shared plane literals,
    so even the probe choice is hash-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = lsh_bucketed_topk(
        queries, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id",
        n_planes=None, dim=64, multiprobe=1,
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


@query("cos_topk_lsh", _lsh_topk_oracle())
def cos_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN path (multi-table sign-LSH buckets), ORACLE-CHECKED
    end-to-end: the seeded per-table hyperplanes are shared as literals
    with the generated DuckDB SQL (_lsh_topk_oracle), so bucket assignment,
    cross-table candidate OR, exact rescoring and the top-k window are all
    replayed by the oracle. Recall (<1) vs the exact operator is pinned
    separately in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = lsh_bucketed_topk(
        queries, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id",
        n_planes=None, dim=64,  # auto-size buckets to the reference count
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


def _ivf_topk_oracle(
    dim: int = 64, n_lists: int = 8, n_probe: int = 2, seed: int = 11, k: int = 3
) -> str:
    """Generate the DuckDB oracle for cos_topk_ivf: the SAME seeded
    unit-norm centroids the operator uses (``seeded_centroids`` — a fixed
    RandomState, deterministic across processes) as float literals. List
    assignment = max dot product (row_number over per-centroid UNION
    branches, ties to the lower list id — mirroring the operator's
    array_sort on (-dot, list_id) structs), queries probe n_probe lists,
    refs live in 1; candidates = equi-join on list id, then exact cosine +
    top-k window. Same replay technique as _lsh_topk_oracle."""
    from asctb_ct_label_mapper_spark.operators.similarity import seeded_centroids

    cents = seeded_centroids(dim, n_lists, seed)

    def branches(pred: str) -> str:
        parts = []
        for i, c in enumerate(cents):
            lit = "[" + ", ".join(repr(float(x)) for x in c) + "]"
            parts.append(
                f"SELECT vec_id, e, {i} AS lid, list_dot_product(e, {lit}) AS dp\n"
                f"         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e\n"
                f"               FROM embeddings WHERE vec_id % 10 {pred})"
            )
        return "\n        UNION ALL\n        ".join(parts)

    return f"""
    WITH qd AS (
        {branches("= 0")}
    ),
    rd AS (
        {branches("<> 0")}
    ),
    qa AS (
        SELECT vec_id, e, lid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dp DESC, lid) AS rn
            FROM qd
        ) WHERE rn <= {n_probe}
    ),
    ra AS (
        SELECT vec_id AS rid, e AS re, lid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dp DESC, lid) AS rn
            FROM rd
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT qa.vec_id, ra.rid, list_cosine_similarity(qa.e, ra.re) AS sc
        FROM qa JOIN ra ON qa.lid = ra.lid
    ),
    ranked AS (
        SELECT vec_id, rid, sc,
               row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, rid) AS rn
        FROM scored
    )
    SELECT vec_id, rid AS ref_id, round(sc, 6) AS score, rn AS rank
    FROM ranked WHERE rn <= {k}
    """


@query("cos_topk_ivf", _ivf_topk_oracle())
def cos_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-quantized ANN path (inverted lists + n_probe), ORACLE-CHECKED
    end-to-end: seeded spherical centroids are shared as literals with the
    generated DuckDB SQL (_ivf_topk_oracle), so list assignment, probing,
    the candidate equi-join, exact rescoring and the top-k window are all
    replayed. The trained-k-means flavor (better recall, MLlib-internal
    centroids) stays available via ivf_topk(centroids=None) with recall
    pinned in tests."""
    from asctb_ct_label_mapper_spark.operators.similarity import seeded_centroids

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = ivf_topk(
        queries, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id",
        n_lists=8, n_probe=2, centroids=seeded_centroids(64, 8),
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


@query("cos_topk_ivf_indexed", _ivf_topk_oracle())
def cos_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase IVF (similarity.ivf_build_index + ivf_query_index): the
    production ANN flow — assign the corpus to inverted lists ONCE
    (persisted; at 100 TB written out partitioned by list id so probe
    joins partition-prune), then probe per query batch. Same seeded
    centroids, same oracle, same result as the fused cos_topk_ivf; what
    the hash check proves here is that the split is semantics-free."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        seeded_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    index, cents, spherical = ivf_build_index(
        reference, "vec_id", n_lists=8, centroids=seeded_centroids(64, 8)
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    index = pooled_persist(index)
    out = ivf_query_index(
        index, cents, spherical, queries_df, k=3, query_id_cols=["vec_id"],
        n_probe=2, broadcast_index=True,  # sf-scale index: hint is correct
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


def _pq_topk_oracle(
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
    k: int = 3,
    refine: int = 4,
    seed: int = 23,
) -> str:
    """Generate the DuckDB oracle for cos_topk_pq: the SAME seeded
    sub-codebooks (``seeded_subcentroids`` — fixed RandomState) as float
    literals. Encode = per-subspace argmax dot (list_position of the min
    of negated dots — first-minimal ties to the lowest code, mirroring
    the operator's array_sort on (dist, code) structs), ADC = per-query
    LUT of sub-dots indexed by each reference's code, refine cut at
    k*refine by (adc DESC, rid), exact cosine rescore + final top-k
    window. Same literal-replay technique as the IVF/LSH oracles."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        seeded_subcentroids,
    )

    cb = seeded_subcentroids(dim, n_sub, n_codes, seed)
    sub_dim = dim // n_sub

    def lit(vec) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def sub_slice(col: str, s: int) -> str:
        return f"{col}[{s * sub_dim + 1}:{s * sub_dim + sub_dim}]"

    code_exprs = []
    for s in range(n_sub):
        dl = (
            "["
            + ", ".join(
                f"-(list_dot_product({sub_slice('e', s)}, {lit(cb[s, c])}))"
                for c in range(n_codes)
            )
            + "]"
        )
        code_exprs.append(
            f"list_position({dl}, list_min({dl})) - 1"
        )
    code_list = "[" + ",\n            ".join(code_exprs) + "]"
    lut_rows = []
    for s in range(n_sub):
        lut_rows.append(
            "["
            + ", ".join(
                f"list_dot_product({sub_slice('e', s)}, {lit(cb[s, c])})"
                for c in range(n_codes)
            )
            + "]"
        )
    lut_list = "[" + ",\n            ".join(lut_rows) + "]"
    adc = " + ".join(f"q.lut[{s + 1}][enc.code[{s + 1}] + 1]" for s in range(n_sub))
    return f"""
    WITH rd AS (
        SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id % 10 != 0
    ),
    qd AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    enc AS (
        SELECT rid, e,
            {code_list} AS code
        FROM rd
    ),
    ql AS (
        SELECT vec_id, e,
            {lut_list} AS lut
        FROM qd
    ),
    cand AS (
        SELECT q.vec_id, enc.rid, ({adc}) AS adc
        FROM ql q CROSS JOIN enc
    ),
    survivors AS (
        SELECT vec_id, rid FROM (
            SELECT vec_id, rid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY adc DESC, rid) AS arank
            FROM cand
        ) WHERE arank <= {k * refine}
    ),
    rescored AS (
        SELECT s.vec_id, s.rid AS ref_id,
            round(list_cosine_similarity(q.e, r.e), 6) AS score
        FROM survivors s
        JOIN qd q ON s.vec_id = q.vec_id
        JOIN rd r ON s.rid = r.rid
    )
    SELECT vec_id, ref_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY score DESC, ref_id) AS rank
        FROM rescored
    ) WHERE rank <= {k}
    """


@query("cos_topk_pq", _pq_topk_oracle())
def cos_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_topk), ORACLE-CHECKED
    end-to-end: 8 subspaces x 16 seeded codes compress each reference
    vector to 8 bytes (32x vs raw); query-time ADC scores candidates via
    per-subspace LUT lookups, the top k*refine survivors get an exact
    cosine rescore. The memory-bound regime's index family, completing
    the ANN ladder (brute-force -> blocked matmul -> LSH -> IVF -> PQ);
    seeded codebooks trade recall for hash-checkability exactly like the
    IVF/LSH flavors (trained codebooks slot into the same argument)."""
    from asctb_ct_label_mapper_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = pq_topk(
        queries_df, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id",
        n_sub=8, n_codes=16, refine=4,
    )
    return out.select("vec_id", "ref_id", F.round("score", 6).alias("score"), "rank")


@query(
    "j1_exact_overwrite",
    f"""
    WITH ref AS (
        SELECT CAST(p_partkey AS VARCHAR) AS ct_id, p_name AS ct_name,
               p_type AS definition, {sql_clean_text('p_name')} AS ct_name_cleaned
        FROM part WHERE p_partkey % 2 = 0
    ), best AS (
        SELECT ct_name_cleaned,
               min(ct_id) AS x_id,
               arg_min(ct_name, ct_id) AS x_label,
               arg_min(definition, ct_id) AS x_text
        FROM ref GROUP BY ct_name_cleaned
    ), inputs AS (
        SELECT DISTINCT 'part' AS source, upper(p_name) AS raw_input_label,
               {sql_clean_text('upper(p_name)')} AS cleaned_input_label
        FROM part WHERE p_partkey % 3 = 0
    )
    SELECT i.source, i.raw_input_label, i.cleaned_input_label,
        CAST(CASE WHEN b.x_id IS NOT NULL THEN 1.0 ELSE 0.5 END AS DOUBLE)
            AS match_score_1,
        CASE WHEN b.x_id IS NOT NULL THEN b.x_id ELSE 'GUESS' END AS matched_asctb_id_1,
        b.x_label AS matched_asctb_label_1,
        b.x_text AS matched_asctb_text_1,
        CAST(CASE WHEN b.x_id IS NOT NULL THEN NULL ELSE 0.25 END AS DOUBLE)
            AS match_score_2,
        CASE WHEN b.x_id IS NOT NULL THEN NULL ELSE 'GUESS2' END AS matched_asctb_id_2,
        CAST(NULL AS VARCHAR) AS matched_asctb_label_2,
        CAST(NULL AS VARCHAR) AS matched_asctb_text_2
    FROM inputs i LEFT JOIN best b ON i.cleaned_input_label = b.ct_name_cleaned
    """,
)
def j1_exact_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: exact-match overwrite join with deterministic min-CT_ID
    tie-break (reference main.py:126-166; arbitrary-row quirk at :119 made
    deterministic per SURVEY §4 item 3). The report seed carries dummy
    rank-1/rank-2 guesses which the overwrite must replace/null."""
    part = _t(spark, sf_dir, "part")
    ref = part.filter(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").cast("string").alias("CT_ID"),
        F.col("p_name").alias("CT_NAME"),
        F.col("p_type").alias("definition"),
        clean_text_expr(F.col("p_name")).alias("ct_name_cleaned"),
    )
    report = (
        part.filter(F.col("p_partkey") % 3 == 0)
        .select(
            F.lit("part").alias("source"),
            F.upper(F.col("p_name")).alias("raw_input_label"),
            clean_text_expr(F.upper(F.col("p_name"))).alias("cleaned_input_label"),
        )
        .distinct()
        .withColumn("match_score_1", F.lit(0.5))
        .withColumn("matched_asctb_id_1", F.lit("GUESS"))
        .withColumn("matched_asctb_label_1", F.lit(None).cast("string"))
        .withColumn("matched_asctb_text_1", F.lit(None).cast("string"))
        .withColumn("match_score_2", F.lit(0.25))
        .withColumn("matched_asctb_id_2", F.lit("GUESS2"))
        .withColumn("matched_asctb_label_2", F.lit(None).cast("string"))
        .withColumn("matched_asctb_text_2", F.lit(None).cast("string"))
    )
    return overwrite_exact_matches(report, ref, k=2)


@query(
    "sheet_unpivot",
    """
    WITH t1 AS (
        SELECT p_name AS CT_NAME, p_brand AS CT_ID, p_type AS CT_LABEL FROM part
    ), t2 AS (
        SELECT CASE WHEN p_size < 5 THEN NULL ELSE p_type END AS CT_NAME,
               CASE WHEN p_size < 10 THEN NULL ELSE p_brand END AS CT_ID,
               CASE WHEN p_size < 8 THEN NULL ELSE p_name END AS CT_LABEL
        FROM part
    ), unioned AS (
        SELECT * FROM t1
        WHERE CT_NAME IS NOT NULL OR CT_ID IS NOT NULL OR CT_LABEL IS NOT NULL
        UNION
        SELECT * FROM t2
        WHERE CT_NAME IS NOT NULL OR CT_ID IS NOT NULL OR CT_LABEL IS NOT NULL
    )
    SELECT coalesce(CT_ID, 'ASCTB CT_ID UNK') AS CT_ID, CT_NAME, CT_LABEL
    FROM unioned
    """,
)
def sheet_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R3 + P1-P5: the wide->long CT-triplet unpivot over a synthetic
    wide sheet derived from part (two hierarchy levels; level 2 has nulls
    so drop-all-null and the sentinel both fire)."""
    p = _t(spark, sf_dir, "part")
    wide = p.select(
        F.col("p_name").alias("CT/1"),
        F.col("p_brand").alias("CT/1/ID"),
        F.col("p_type").alias("CT/1/LABEL"),
        F.when(F.col("p_size") >= 5, F.col("p_type")).alias("CT/2"),
        F.when(F.col("p_size") >= 10, F.col("p_brand")).alias("CT/2/ID"),
        F.when(F.col("p_size") >= 8, F.col("p_name")).alias("CT/2/LABEL"),
    )
    return ct_triplet_unpivot(wide)


def _mapping_report_oracle() -> str:
    """The FLAGSHIP oracle: the entire mapping pipeline — full six-step NLP
    cleaning, stub sentence-encoding (hex-chained sha256, float32-rounded
    unit vectors, bit-identical to numpy — see functions/vector.py),
    cosine top-2 with (score DESC, CT_ID) ranking, rank pivot, and
    min-CT_ID exact overwrite — replayed in DuckDB SQL. Composed from the
    independently-proven fragments: sql_clean_text_full (nlp_clean_full),
    sql_stub_hex/raw/unit (test parity), the cos_topk ranking shape, and
    the j1_exact_overwrite overwrite shape."""
    from asctb_ct_label_mapper_spark.functions.nlp import sql_clean_text_full
    from asctb_ct_label_mapper_spark.functions.vector import (
        sql_stub_hex,
        sql_stub_raw,
        sql_stub_unit,
    )

    return f"""
    WITH labels AS (
        SELECT DISTINCT 'supplier' AS source, s_name AS raw_input_label FROM supplier
    ),
    lc AS (
        SELECT source, raw_input_label,
               {sql_clean_text_full("raw_input_label")} AS cleaned_input_label
        FROM labels
    ),
    lh AS (SELECT *, {sql_stub_hex("cleaned_input_label")} AS hx FROM lc),
    lr AS (SELECT source, raw_input_label, cleaned_input_label,
                  {sql_stub_raw("hx")} AS raw FROM lh),
    lq AS (SELECT source, raw_input_label, cleaned_input_label,
                  {sql_stub_unit("raw")} AS qe FROM lr),
    ref0 AS (
        SELECT CAST(p_partkey AS VARCHAR) AS ct_id, p_name AS ct_name,
               p_type AS definition,
               concat_ws(' ', p_name, p_type) AS all_text,
               {sql_clean_text_full("p_name")} AS ct_name_cleaned
        FROM part WHERE p_partkey <= 200
    ),
    rh AS (SELECT *, {sql_stub_hex("all_text")} AS hx FROM ref0),
    rr AS (SELECT ct_id, ct_name, definition, all_text, ct_name_cleaned,
                  {sql_stub_raw("hx")} AS raw FROM rh),
    re AS (SELECT ct_id, ct_name, definition, all_text, ct_name_cleaned,
                  {sql_stub_unit("raw")} AS ve FROM rr),
    scored AS (
        SELECT l.source, l.raw_input_label, l.cleaned_input_label,
               r.ct_id, r.ct_name, r.all_text,
               list_cosine_similarity(l.qe, r.ve) AS sc
        FROM lq l CROSS JOIN re r
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY source, raw_input_label, cleaned_input_label
            ORDER BY sc DESC, ct_id) AS rn
        FROM scored
    ),
    wide AS (
        SELECT source, raw_input_label, cleaned_input_label,
            max(CASE WHEN rn = 1 THEN sc END) AS s1,
            max(CASE WHEN rn = 1 THEN ct_id END) AS id1,
            max(CASE WHEN rn = 1 THEN ct_name END) AS lab1,
            max(CASE WHEN rn = 1 THEN all_text END) AS txt1,
            max(CASE WHEN rn = 2 THEN sc END) AS s2,
            max(CASE WHEN rn = 2 THEN ct_id END) AS id2,
            max(CASE WHEN rn = 2 THEN ct_name END) AS lab2,
            max(CASE WHEN rn = 2 THEN all_text END) AS txt2
        FROM ranked WHERE rn <= 2
        GROUP BY source, raw_input_label, cleaned_input_label
    ),
    best AS (
        SELECT ct_name_cleaned, min(ct_id) AS x_id,
               arg_min(ct_name, ct_id) AS x_label,
               arg_min(definition, ct_id) AS x_text
        FROM ref0 GROUP BY ct_name_cleaned
    )
    SELECT w.source, w.raw_input_label, w.cleaned_input_label,
        round(CASE WHEN b.x_id IS NOT NULL THEN 1.0 ELSE w.s1 END, 6)
            AS match_score_1,
        CASE WHEN b.x_id IS NOT NULL THEN b.x_id ELSE w.id1 END
            AS matched_asctb_id_1,
        CASE WHEN b.x_id IS NOT NULL THEN b.x_label ELSE w.lab1 END
            AS matched_asctb_label_1,
        CASE WHEN b.x_id IS NOT NULL THEN b.x_text ELSE w.txt1 END
            AS matched_asctb_text_1,
        round(CASE WHEN b.x_id IS NOT NULL THEN NULL ELSE w.s2 END, 6)
            AS match_score_2,
        CASE WHEN b.x_id IS NOT NULL THEN NULL ELSE w.id2 END
            AS matched_asctb_id_2,
        CASE WHEN b.x_id IS NOT NULL THEN NULL ELSE w.lab2 END
            AS matched_asctb_label_2,
        CASE WHEN b.x_id IS NOT NULL THEN NULL ELSE w.txt2 END
            AS matched_asctb_text_2
    FROM wide w LEFT JOIN best b ON w.cleaned_input_label = b.ct_name_cleaned
    """


@query("mapping_report", _mapping_report_oracle())
def mapping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP, ORACLE-CHECKED end-to-end: the full reference pipeline
    (full NLP clean -> stub encode -> broadcast cosine top-2 -> rank pivot
    -> exact overwrite). The stub encoder's hex-chained sha256 + float32
    rounding is bit-reproducible in DuckDB (functions/vector.sql_stub_*),
    so the whole report — scores included — hash-matches
    (_mapping_report_oracle). Scores are rounded to 6dp on both sides;
    tests additionally pin golden rows."""
    supp = _t(spark, sf_dir, "supplier")
    labels = supp.select(
        F.lit("supplier").alias("source"), F.col("s_name").alias("raw_input_label")
    )
    # p_partkey <= 200 (not .limit(200)): the reference subset must be
    # row-deterministic for the oracle, and limit's row choice is
    # partitioning-dependent
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    reference = (
        part.select(
            F.col("p_partkey").cast("string").alias("CT_ID"),
            F.col("p_name").alias("CT_NAME"),
            F.col("p_type").alias("definition"),
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        # full cleaner on BOTH sides (reference cleans CT_NAME with
        # execute_nlp_pipeline at main.py:139; must agree with the mapping
        # side's default or exact-overwrite misses)
        .withColumn("ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )
    out = map_labels_to_reference(labels, reference, k=2)
    return out.select(
        "source", "raw_input_label", "cleaned_input_label",
        F.round("match_score_1", 6).alias("match_score_1"),
        "matched_asctb_id_1", "matched_asctb_label_1", "matched_asctb_text_1",
        F.round("match_score_2", 6).alias("match_score_2"),
        "matched_asctb_id_2", "matched_asctb_label_2", "matched_asctb_text_2",
    )


# =============================================================================
# LLM-data-pipeline operators over documents/embeddings
# =============================================================================


@query(
    "dedup_exact",
    """
    SELECT doc_id, md5(text) AS content_hash,
        count(*) OVER (PARTITION BY md5(text)) AS dup_count,
        (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
            AS is_canonical
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup flags (hash + one shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_flags(docs, "text", "doc_id").select(
        "doc_id", "content_hash", "dup_count", "is_canonical"
    )


@query(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
        SELECT source, doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
        FROM (SELECT source, doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        round(CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
              THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.shingles, b.shingles)))
              ELSE 0.0 END, 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
          THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shingles, b.shingles)))
          ELSE 0.0 END >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs within the `source` blocking key —
    the oracle-checkable near-dup baseline (quadratic inside blocks only)."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", "source", threshold=0.2).select(
        "source", "id_a", "id_b", "jaccard"
    )


# Reusable recursive-CTE block: lang-blocked exact-Jaccard pairs ->
# connected components (min reachable id) -> every doc's group assignment.
# Shared by dedup_groups and the composite pipeline_curate oracle.
_GROUPS_CTE_BODY = """
    sh AS (
        SELECT lang AS blk, doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)])
                AS shingles
        FROM (SELECT lang, doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE round(CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
              THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.shingles, b.shingles)))
              ELSE 0.0 END, 6) >= 0.05
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    ),
    comp AS (SELECT node, min(label) AS group_id FROM walk GROUP BY node),
    assigned AS (
        SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
"""


@query(
    "dedup_groups",
    f"""
    WITH RECURSIVE
    {_GROUPS_CTE_BODY}
    SELECT doc_id, group_id,
        count(*) OVER (PARTITION BY group_id) AS group_size,
        (doc_id = group_id) AS is_canonical
    FROM assigned
    """,
)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-GROUP formation (SURVEY §7 step 7): deterministic exact
    n-gram-Jaccard pairs (lang-blocked) -> connected components via
    iterative min-label propagation -> (doc_id, group_id, group_size,
    is_canonical) for every document incl. singletons. Oracle = the same
    pairs fed through a DuckDB recursive CTE computing min reachable id."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.05)
    return duplicate_groups(pairs, all_ids=docs, id_col="doc_id").select(
        "doc_id", "group_id", "group_size", "is_canonical"
    )


@query(
    "pipeline_curate",
    f"""
    WITH RECURSIVE
    {_GROUPS_CTE_BODY},
    stats AS ({sql_text_stats("documents")})
    SELECT a.doc_id, d.lang, s.n_tokens, s.quality_score
    FROM assigned a
    JOIN stats s ON s.doc_id = a.doc_id
    JOIN documents d ON d.doc_id = a.doc_id
    WHERE a.doc_id = a.group_id AND s.quality_score >= 0.5
    """,
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE curation pipeline — the operators composed the way a real
    training-data run uses them: near-dup pair generation (lang-blocked
    exact Jaccard) -> connected-component group formation -> keep only
    canonical docs -> quality gate (composite codegen score). Oracle
    composes the same proven fragments (groups recursive CTE + text-stats
    SQL). One query demonstrating the operators integrate, not just pass
    in isolation."""
    from asctb_ct_label_mapper_spark.operators.dedup import duplicate_groups
    from asctb_ct_label_mapper_spark.operators.textstats import text_stats

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.05)
    groups = duplicate_groups(pairs, all_ids=docs, id_col="doc_id")
    stats = text_stats(docs)
    return (
        groups.filter(F.col("is_canonical"))
        .join(stats, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "lang", "n_tokens", "quality_score")
    )


def _minhash_affine_oracle(
    threshold: float = 0.2, n_hashes: int = 16, bands: int = 8
) -> str:
    """Generate the DuckDB oracle for dedup_minhash: the md5-affine family
    literals (a_j, b_j, P — shared from minhash_affine_params, so both
    engines hash identically) replay signature construction, the md5 band
    hash, the candidate equi-join AND the exact-Jaccard verify. base(x) =
    int(md5(x)[:8], 16) mod P; h_j = (a_j*base + b_j) mod P with P=2^31-1,
    so every product fits BIGINT exactly in both engines."""
    from asctb_ct_label_mapper_spark.operators.dedup import minhash_affine_params

    a, b, p = minhash_affine_params(n_hashes)
    r = n_hashes // bands
    base = f"(CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {p})"
    sig_terms = ",\n             ".join(
        f"coalesce(list_min([({a[j]} * {base} + {b[j]}) % {p} for s in shingles]), {p})"
        for j in range(n_hashes)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sig AS (
        SELECT doc_id, shingles,
            [{sig_terms}] AS sig
        FROM sh
    ),
    banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string([CAST(x AS VARCHAR)
                                    for x in sig[b*{r}+1 : b*{r}+{r}]], '|')) AS bhash
        FROM sig, range(0, {bands}) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
                     AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
        round(CASE WHEN len(list_distinct(list_concat(sa.shingles, sb.shingles))) > 0
              THEN CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
              ELSE 0.0 END, 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE round(CASE WHEN len(list_distinct(list_concat(sa.shingles, sb.shingles))) > 0
          THEN CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
          ELSE 0.0 END, 6) >= {threshold}
    """


@query("dedup_minhash", _minhash_affine_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+banded-LSH near-dup, ORACLE-CHECKED end-to-end: the
    production signature family is md5-affine (ONE md5 per unique shingle,
    the n_hashes family as exact mod-P affine arithmetic, in one Arrow
    pass), whose literals the generated DuckDB SQL replays: signature,
    band hash, candidate equi-join AND Jaccard verify. The SipHash family
    (minhash_dedup_pairs family="siphash", the operator default) shares
    the same signature kernel and has its recall pinned in tests."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.2, n_hashes=16, bands=8,
        family="md5affine",
    )


@query(
    "dedup_simhash",
    """
    WITH toks AS (
        SELECT doc_id, CAST(concat('0x', substr(md5(tkn), 1, 8)) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tkn
              FROM documents)
    ),
    bitsums AS (
        SELECT doc_id, r.i, sum(((h >> r.i) & 1) * 2 - 1) AS s
        FROM toks, range(0, 32) r(i)
        GROUP BY doc_id, r.i
    ),
    sims AS (
        SELECT doc_id, sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sim
        FROM bitsums GROUP BY doc_id
    ),
    blocked AS (SELECT doc_id, sim, (sim >> 16) AS blk FROM sims)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sim, b.sim)) AS hamming
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 6
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED SimHash near-dup pairs (one native bit-count
    aggregate; blocked on the top signature bits): token hash = int of the
    first 8 md5 hex chars (byte-identical in DuckDB), so signature
    construction, top-16-bit blocking AND hamming verification are replayed
    by the SQL oracle. The murmur3-hash flavor (simhash_near_dup_pairs
    default hash_fn) remains as an operator, equivalence pinned in tests."""
    from asctb_ct_label_mapper_spark.operators.dedup import md5_token_hash

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    return simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=6, hash_fn=md5_token_hash
    )


def _embedding_dedup_oracle(dim: int = 64, n_planes: int = 8, seed: int = 7) -> str:
    """Generate the DuckDB oracle for dedup_embedding: the SAME seeded
    hyperplanes the Spark operator uses (``random_hyperplanes`` is a fixed
    RandomState — deterministic across processes) are embedded as float
    literals, so bucketing (sign of dot), the bucket equi-join AND the
    exact-cosine verification are all replayed in SQL. Only the SIGN of
    each plane dot feeds the bucket id, so engine-level summation-order
    differences (|dot| ~ O(1) vs ~1e-16 float noise) cannot flip it."""
    from asctb_ct_label_mapper_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes, seed)
    terms = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        terms.append(f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {1 << j} ELSE 0 END)")
    bucket = "\n             + ".join(terms)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT vec_id, e, {bucket} AS bucket FROM v)
    SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           round(list_cosine_similarity(a.e, bb.e), 6) AS cosine
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    WHERE round(list_cosine_similarity(a.e, bb.e), 6) >= 0.3
    """


@query("dedup_embedding", _embedding_dedup_oracle())
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via sign-LSH buckets, ORACLE-CHECKED: the
    bucketing hyperplanes are seeded literals shared between the Spark plan
    and the generated DuckDB SQL (see _embedding_dedup_oracle), so the
    approximate pipeline itself — not just a recall bound — is verified."""
    from asctb_ct_label_mapper_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.3)


@query("text_stats_docs", sql_text_stats("documents"))
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punctuation/stopword quality stats (all native exprs)."""
    return text_stats(_t(spark, sf_dir, "documents"))


@query("lang_id_docs", sql_lang_id("documents"))
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic -> oracle-checked)."""
    return lang_id(_t(spark, sf_dir, "documents"))


@query("fingerprint_docs", sql_fingerprint("documents"))
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content hash + order/duplication-insensitive fingerprint."""
    return fingerprint(_t(spark, sf_dir, "documents"))


@query(
    "text_len_quantiles",
    """
    SELECT lang,
        count(*) AS n_docs,
        round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
        round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
        min(n_chars) AS min_chars,
        max(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def text_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution stats per language (training-data curation:
    exact percentiles; both engines interpolate linearly). The scale
    variant swaps in ``approx_percentile`` for one-pass sketching."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query("split_assign", sql_hash_split("(SELECT doc_id FROM documents) d", "doc_id"))
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by id hash (curation.hash_split):
    a row's split depends only on md5(doc_id) — never on partitioning, row
    order, or engine — so re-runs and backfills cannot leak documents
    across splits. Narrow (zero shuffle), fully codegen."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, "doc_id")


# Deterministic synthetic PII appended per row so the scrub demonstrably
# fires on every document (the corpus itself is clean text); both engines
# build the identical augmented string.
_PII_SUFFIX_SQL = (
    # || not concat(): DuckDB's concat() SKIPS nulls while Spark's concat
    # propagates them — || propagates in both, keeping null-text parity.
    "(text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) "
    "|| ' tel +1 555 000 ' || CAST(doc_id % 100 AS VARCHAR))"
)


@query(
    "pii_scrub_docs",
    sql_pii_scrub(
        f"(SELECT doc_id, {_PII_SUFFIX_SQL} AS text FROM documents) d", "text"
    ),
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (curation.pii_scrub): email / IPv4 / phone-shaped runs
    replaced by typed placeholders, per-kind match counts kept from the
    original text. The regex chain is written in the Java-regex/RE2 shared
    subset, so the oracle replays the scrub byte-identically."""
    docs = _t(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" tel +1 555 000 "),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    return pii_scrub(with_pii, "text")


@query("token_topn_docs", sql_token_topn("documents", 100))
def token_topn_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-100 tokens with corpus and document frequency
    (textstats.token_topn): one map-side-combinable shuffle on token, then
    a vocabulary-sized top-n. Ties broken by token so the cut is
    deterministic and oracle-checkable."""
    return token_topn(_t(spark, sf_dir, "documents"), 100)


@query(
    "contamination_check",
    sql_ngram_contamination(
        sql_hash_split("(SELECT doc_id, text FROM documents) d", "doc_id"),
        threshold=0.1,
    ),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage detector (contamination.ngram_contamination): the
    deterministic hash split carves train/test from `documents`, then every
    test doc's distinct 3-grams probe the train shingle vocabulary via one
    equi-join. Composes split_assign's md5 bucketing with dedup's shingle
    expression — both already oracle-proven in isolation."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    assigned = hash_split(docs, "doc_id")
    return ngram_contamination(
        assigned.filter(F.col("split") == "test"),
        assigned.filter(F.col("split") == "train"),
        threshold=0.1,
    )


@query("repetition_docs", sql_repetition_stats("documents"))
def repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document: duplicate
    token/bigram fractions + top-bigram occupancy, via one
    map-side-combinable (doc, gram) shuffle."""
    return repetition_stats(_t(spark, sf_dir, "documents"))


@query("tokenize_bpe_docs", sql_bpe_tokenize_stats("documents"))
def tokenize_bpe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex pretokenizer counts (engine brief: token counting
    beyond whitespace): letter/digit/punctuation runs with optional leading
    space, chars-per-token compression proxy. Pure regexp_count codegen."""
    return bpe_tokenize_stats(_t(spark, sf_dir, "documents"))


@query("quantize_embed_stats", sql_quantize_error_stats("embeddings"))
def quantize_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column with per-vector
    reconstruction-error stats and the 0.5/scale bound verified row-wise
    (quantize.quantize_error_stats). The 4x shuffle-bytes lever for ANN at
    100 TB; arithmetic written identically in both engines."""
    return quantize_error_stats(_t(spark, sf_dir, "embeddings"))


@query("inverted_index_docs", sql_inverted_index("documents", 20))
def inverted_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token inverted index (textstats.inverted_index): bounded
    posting lists (df <= 20) built in one groupBy(token) aggregate."""
    return inverted_index(_t(spark, sf_dir, "documents"), 20)


@query(
    "lang_confusion",
    f"""
    SELECT lang, lang_pred, count(*) AS n
    FROM (SELECT d.lang, p.lang_pred
          FROM documents d JOIN ({sql_lang_id("documents")}) p USING (doc_id))
    GROUP BY lang, lang_pred
    """,
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language confusion matrix: the standard QA
    readout for a language-ID stage (composes the oracle-proven lang_id
    with a broadcast-sized groupBy)."""
    docs = _t(spark, sf_dir, "documents")
    pred = lang_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "corpus_report",
    f"""
    WITH stats AS ({sql_text_stats("documents")})
    SELECT d.source,
        count(*) AS n_docs,
        CAST(sum(s.n_tokens) AS BIGINT) AS total_tokens,
        round(avg(s.quality_score), 6) AS avg_quality,
        round(1.0 - CAST(count(DISTINCT d.text) AS DOUBLE) / count(*), 6)
            AS dup_text_rate,
        count(DISTINCT d.lang) AS n_langs
    FROM documents d JOIN stats s USING (doc_id)
    GROUP BY d.source
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card: volume, token mass, mean quality,
    exact-dup rate, language spread — the dashboard a curation run emits
    per shard. One groupBy(source) over the joined stats (source count is
    small; the count(DISTINCT text) is the only wide aggregate and is
    bounded per group)."""
    docs = _t(spark, sf_dir, "documents")
    stats = text_stats(docs).select("doc_id", "n_tokens", "quality_score")
    return (
        docs.select("doc_id", "source", "lang", "text")
        .join(stats, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(
                1.0 - F.countDistinct("text").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_text_rate"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@query("tfidf_topk_docs", sql_tfidf_topk("documents", 3))
def tfidf_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (textstats.tfidf_topk): tf and df
    from one exploded token stream (both map-side-combinable), smoothed
    idf, per-doc window top-k with token tie-break. r7: runs the operator
    DEFAULT, which is now the 50k-bounded vocabulary (driver/broadcast
    contract O(max_vocab) — VERDICT r6 #3); the oracle applies the same
    cap, and at these scales the vocabulary is under it, so output equals
    the retired unbounded flavor."""
    return tfidf_topk(_t(spark, sf_dir, "documents"), 3)


@query(
    "tfidf_topk_bounded",
    sql_tfidf_topk("documents", 3, min_df=2, max_vocab=50_000),
)
def tfidf_topk_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-vocabulary TF-IDF flavor (VERDICT r5 #3): df >= 2 plus a
    50k-term cap make the fused path's driver/broadcast contract an
    explicit O(max_vocab) regardless of corpus vocabulary — the 100 TB
    posture, where an open web corpus's hapax-dominated tail would
    otherwise grow the model with the data. Hapax terms can't rank anyway
    on any corpus where TF-IDF is meaningful; the oracle replays the same
    prune, so the boundary is value-checked, not asserted."""
    return tfidf_topk(
        _t(spark, sf_dir, "documents"), 3, min_df=2, max_vocab=50_000
    )


@query(
    "unigram_logppl_docs",
    sql_unigram_logppl(
        sql_hash_split("(SELECT doc_id, text FROM documents) d", "doc_id")
    ),
)
def unigram_logppl_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score (contamination.unigram_logppl):
    add-1-smoothed unigram LM fit on the train split, test docs scored by
    average negative log-likelihood per token — the CCNet-style
    distribution-distance curation filter, composed with the proven
    deterministic hash split."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    assigned = hash_split(docs, "doc_id")
    return unigram_logppl(
        assigned.filter(F.col("split") == "test"),
        assigned.filter(F.col("split") == "train"),
    )


@query("pack_sequences_docs", sql_pack_sequences("documents", 512))
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk LLM pretraining packing
    (curation.pack_sequences): per-source running token offsets cut into
    512-token pack rows; window cumsum partitioned by source (never a
    global single-task window)."""
    return pack_sequences(_t(spark, sf_dir, "documents"), 512)


@query(
    "winnowing_docs",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
        SELECT doc_id,
            unnest(CASE WHEN len(toks) >= 3
                THEN [array_to_string(toks[i:i+2], ' ')
                      for i in range(1, len(toks) - 2 + 1)]
                ELSE [] END) AS shingle,
            unnest(CASE WHEN len(toks) >= 3
                THEN range(1, len(toks) - 2 + 1) ELSE [] END) AS pos
        FROM t
    ),
    h AS (
        SELECT doc_id, pos,
            CAST(list_sum([(strpos('0123456789abcdef',
                                   substring(md5(shingle), j, 1)) - 1)
                           * power(16, 8 - j) for j in range(1, 9)])
                 AS BIGINT) AS hv
        FROM sh
    ),
    w AS (
        SELECT doc_id, pos,
            min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
            count(*) OVER (PARTITION BY doc_id) AS n
        FROM h
    ),
    sel AS (
        SELECT doc_id, wmin FROM w WHERE n >= 4 AND pos <= n - 3
        UNION ALL
        SELECT doc_id, min(hv) AS wmin FROM h GROUP BY doc_id
        HAVING count(*) < 4
    ),
    agg AS (
        SELECT doc_id,
            list_transform(list_sort(list_distinct(list(wmin))),
                           x -> CAST(x AS VARCHAR)) AS fps
        FROM sel GROUP BY doc_id
    )
    SELECT d.doc_id,
        coalesce(len(a.fps), 0) AS n_fingerprints,
        coalesce(array_to_string(a.fps, ','), '') AS fingerprints
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def winnowing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED rolling-hash winnowing fingerprint sets per document,
    hashed with the cross-engine md5-prefix hash so DuckDB reproduces the
    exact fingerprint values (rolling min expressed as a window function
    over unnested shingle positions in the oracle). Fingerprints serialize
    to a comma-joined string so the driver's canonicalizer can sort/hash
    the column. The murmur3-hash flavor (winnowing_fingerprints default
    hash_fn) remains as an operator, overlap property pinned in tests."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        md5_prefix_hash,
        winnowing_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    out = winnowing_fingerprints(docs, hash_fn=md5_prefix_hash)
    return out.select(
        "doc_id",
        F.size("fingerprints").alias("n_fingerprints"),
        F.array_join(
            F.transform("fingerprints", lambda x: x.cast("string")), ","
        ).alias("fingerprints"),
    )


def _multimodal_oracle() -> str:
    """Replay the stub media decode in DuckDB: payload is the utf-8 text,
    the stub feature vector is sha256(payload) folded into 8 LITTLE-endian
    uint32s / 2^32, rounded through float32. Little-endian means each
    8-hex-digit group is byte-swapped before the integer cast."""
    comps = []
    for i in range(8):
        b = [f"substr(h, {i * 8 + j * 2 + 1}, 2)" for j in range(4)]
        le_hex = " || ".join(reversed(b))
        comps.append(
            f"round(CAST(CAST(CAST(('0x' || {le_hex}) AS UBIGINT)"
            f" / 4294967296.0 AS REAL) AS DOUBLE), 6) AS f{i}"
        )
    comp_sql = ",\n           ".join(comps)
    return f"""
    WITH m AS (
        SELECT doc_id AS media_id, 'image' AS kind, text,
               sha256(text) AS h, strlen(text) AS payload_bytes
        FROM documents
    )
    SELECT media_id, kind,
           {comp_sql},
           CAST(payload_bytes AS INTEGER) AS payload_bytes
    FROM m
    """


@query("multimodal_features", _multimodal_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, ORACLE-CHECKED: synthesize binary media rows
    from documents, decode features via the batched mapInPandas stub (real
    plan — byte-budget re-chunking, Arrow batch contract; stubbed codec).
    The stub decode is sha256 over the payload bytes, which DuckDB replays
    on the identical utf-8 text, so even the binary-column path carries a
    value oracle. Features surface as 8 rounded scalar columns for the
    driver canonicalizer; the raw array<float> stays available through
    decode_features itself."""
    from asctb_ct_label_mapper_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_features,
        synthesize_media,
    )

    docs = _t(spark, sf_dir, "documents")
    out = decode_features(synthesize_media(docs, "doc_id", "text"))
    return out.select(
        "media_id",
        "kind",
        *[
            F.round(F.col("features")[i].cast("double"), 6).alias(f"f{i}")
            for i in range(FEATURE_DIM)
        ],
        "payload_bytes",
    )


def _viz_projection_oracle() -> str:
    # the exact spine: per-point summed full-dim Euclidean distance
    # (quadratic census over the 200-point deterministic subset) +
    # hover-text assembly; the SVD-dependent invariants are booleans
    # the Spark side must prove TRUE (cos_topk_hnsw precedent)
    return """
    WITH e AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
    ), p AS (
        SELECT a.vec_id AS i,
            sum(sqrt(list_sum(list_transform(
                list_zip(a.embedding, b.embedding),
                x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                   * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
            )))) AS ds
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        GROUP BY 1
    )
    SELECT 'V' || CAST(i AS VARCHAR) AS "CT_ID",
        'vec ' || CAST(i AS VARCHAR) AS "CT_NAME",
        'vec ' || CAST(i AS VARCHAR) AS hover_text,
        round(ds, 6) AS dist_sum,
        TRUE AS rank_corr_ok,
        TRUE AS centered_ok,
        TRUE AS var_ordered_ok
    FROM p
    """


@query("viz_projection", _viz_projection_oracle())
def viz_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14-F16, VALUE-ORACLED (r13 verdict #4 — the last rows-only entry
    graduated): the PCA projection's SVD has no relational replay, so
    the gate is an exact per-point spine (CT_ID / CT_NAME / hover_text
    / full-dim distance sum, hash-matched against DuckDB's quadratic
    census) plus projection invariants as oracle-pinned booleans
    (distance rank correlation >= 0.1, exact centering, PC-variance
    ordering). The subset is vec_id < 200 — row-deterministic where the
    old .limit(200) was partitioning-dependent. The plot-ready (x, y)
    surface itself stays exercised by tests and viz_projection_rp."""
    from asctb_ct_label_mapper_spark.operators.viz import projection_invariants

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    ref = emb.select(
        F.concat(F.lit("V"), F.col("vec_id")).alias("CT_ID"),
        F.concat(F.lit("vec "), F.col("vec_id")).alias("CT_NAME"),
        F.lit(None).cast("string").alias("CT_LABEL"),
        F.lit("NaN").alias("definition"),
        F.col("embedding"),
    )
    return projection_invariants(ref)


# =============================================================================
# Source/sink operators S1-S7 as self-contained registry queries
# =============================================================================

_SHEET_CONFIG_ORGANS = [
    {
        "name": "Lung",
        "version": [
            {"viewValue": "v1.1", "sheetId": "SID-LUNG-11", "gid": "101"},
            {"viewValue": "v1.2", "sheetId": "SID-LUNG-12", "gid": "102"},
        ],
    },
    {
        "name": "Kidney",
        "version": [{"viewValue": "v1.0", "sheetId": "SID-KID-10", "gid": "201"}],
    },
    {
        "name": "Heart",
        "version": [
            {"viewValue": "v1.2", "sheetId": "SID-HEART-12", "gid": "301"},
        ],
    },
]


def _sheet_config_b64() -> str:
    from asctb_ct_label_mapper_spark.sources.config import encode_config_fixture

    return encode_config_fixture(_SHEET_CONFIG_ORGANS)


_SHEET_STRUCTURE = (
    '[{"name":"VARCHAR","version":'
    '[{"viewValue":"VARCHAR","sheetId":"VARCHAR","gid":"VARCHAR"}]}]'
)


@query(
    "sheet_config_lookup",
    f"""
    WITH org AS (
        SELECT unnest(json_transform(decode(from_base64('{_sheet_config_b64()}')),
                      '{_SHEET_STRUCTURE}')) AS o
    ), ver AS (
        SELECT o.name AS name, unnest(o.version) AS v FROM org
    )
    SELECT name, v.viewValue AS view_value, v.sheetId AS sheet_id, v.gid AS gid
    FROM ver WHERE lower(name) = 'lung' AND v.viewValue = 'v1.2'
    """,
)
def sheet_config_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+F17+S2: base64 GitHub-contents payload -> unbase64 -> from_json
    (explicit schema) -> explode versions -> case-insensitive organ +
    exact viewValue lookup (asctb_data_wrangling.py:9-66). The payload is a
    deterministic fixture literal, decoded by BOTH engines from the same
    base64 string."""
    from asctb_ct_label_mapper_spark.sources.config import sheet_config_df

    cfg = sheet_config_df(spark, _sheet_config_b64())
    return (
        cfg.select("name", F.explode("version").alias("v"))
        .filter((F.lower(F.col("name")) == "lung") & (F.col("v.viewValue") == "v1.2"))
        .select(
            "name",
            F.col("v.viewValue").alias("view_value"),
            F.col("v.sheetId").alias("sheet_id"),
            F.col("v.gid").alias("gid"),
        )
    )


@query(
    "csv_skiprows_scan",
    "SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_partkey % 7 = 0",
)
def csv_skiprows_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S6 round-trip: export a part subset through the utf-8-sig CSV sink,
    prepend the 10-row Google-Sheets-style metadata prologue (BOM first, as
    in a real Sheets export), then scan it back with the skiprows reader.
    Oracle reads the same subset straight from parquet — any sink/scan
    corruption (BOM leakage into the header, prologue rows surviving, type
    mangling) breaks the hash."""
    import glob
    import os

    from asctb_ct_label_mapper_spark.sources.csv_skip import read_csv_skiprows
    from asctb_ct_label_mapper_spark.sources.sinks import write_csv_utf8_sig

    base = _fixture_dir("csv_skip")
    src = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    write_csv_utf8_sig(src, base)  # S6: BOM + header, single file
    part_file = glob.glob(os.path.join(base, "part-*.csv"))[0]
    with open(part_file, "rb") as fh:
        data = fh.read()
    body = data[3:] if data.startswith(b"\xef\xbb\xbf") else data
    prologue = "".join(f"sheet metadata row {i},, \n" for i in range(10)).encode()
    # fresh filename: rewriting Spark's own part file in place would break
    # its .crc sidecar and fail the subsequent read
    export = os.path.join(base, "sheet_export.csv")
    with open(export, "wb") as fh:
        fh.write(b"\xef\xbb\xbf" + prologue + body)
    back = read_csv_skiprows(spark, export, skiprows=10)
    return back.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        "p_name",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )


@query(
    "parquet_roundtrip",
    """
    SELECT vec_id, label, len(embedding) AS dim,
        round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
            AS checksum
    FROM embeddings WHERE vec_id % 5 = 0
    """,
)
def parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+S5: write an embeddings subset (incl. the array<float> column the
    reference's CSV sink corrupts, main.py:12,29-30) through the parquet
    sink, read it back, and emit per-row checksums over the vector. Oracle
    computes the same checksums from the ORIGINAL table — proving the
    columnar round-trip is lossless."""
    from asctb_ct_label_mapper_spark.sources.sinks import write_parquet

    path = _fixture_dir("emb_roundtrip")
    src = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    write_parquet(src, path)  # S7
    back = spark.read.parquet(path)  # S5
    emb = F.col("embedding")
    return back.select(
        "vec_id",
        "label",
        F.size(emb).alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_val"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 4
        ).alias("checksum"),
    )


# =============================================================================
# Round-7 additions: scalable viz projection, corpus drift, representative
# selection, semantic dedup groups
# =============================================================================


def _viz_rp_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.viz import sql_random_projection_2d

    return sql_random_projection_2d("embeddings")


@query("viz_projection_rp", _viz_rp_oracle())
def viz_projection_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 SCALE path, ORACLE-CHECKED: seeded Gaussian random projection to
    2-d as a pure native plan (no collect, no UDF, no shuffle) — the shape
    that projects billions of points; the seeded planes are shared as
    literals with the DuckDB oracle, so the viz family's projection values
    are hash-verified end-to-end (the PCA/UMAP flavor stays rows-only)."""
    from asctb_ct_label_mapper_spark.operators.viz import random_projection_2d

    return random_projection_2d(_t(spark, sf_dir, "embeddings"))


@query("corpus_divergence", sql_corpus_divergence("documents"))
def corpus_divergence_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence vs the rest of the corpus
    (training-mixture drift monitor). All native aggregations; the
    absent-token mass is a closed-form remainder, so no vocabulary cross
    join. Oracle replays the identical formula in DuckDB."""
    return corpus_divergence(_t(spark, sf_dir, "documents"))


@query(
    "dedup_representatives",
    f"""
    WITH RECURSIVE
    {_GROUPS_CTE_BODY},
    sized AS (
        SELECT doc_id, group_id,
               count(*) OVER (PARTITION BY group_id) AS group_size
        FROM assigned
    ),
    ranked AS (
        SELECT s.group_id, s.doc_id, d.n_chars AS quality, s.group_size,
               row_number() OVER (PARTITION BY s.group_id
                                  ORDER BY d.n_chars DESC, s.doc_id ASC) AS rn
        FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT group_id, doc_id, quality, group_size FROM ranked WHERE rn = 1
    """,
)
def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over duplicate groups: keep the BEST doc
    per group (longest, ties to lowest id) — the curation policy variant of
    dedup_groups' structural min-id canonical. Oracle = the shared groups
    recursive CTE + the same quality window."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        duplicate_groups,
        group_representatives,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.05)
    groups = duplicate_groups(pairs, all_ids=docs, id_col="doc_id")
    return group_representatives(groups, docs, id_col="doc_id", quality_col="n_chars")


def _embedding_groups_oracle(dim: int = 64, n_planes: int = 8, seed: int = 7) -> str:
    """dedup_embedding's seeded-plane pair CTE composed with the same
    recursive min-label walk dedup_groups uses — semantic (embedding-space)
    duplicate GROUPS, fully replayed in SQL."""
    from asctb_ct_label_mapper_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes, seed)
    terms = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        terms.append(f"(CASE WHEN list_dot_product(e, {lit}) > 0 THEN {1 << j} ELSE 0 END)")
    bucket = "\n             + ".join(terms)
    return f"""
    WITH RECURSIVE
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT vec_id, e, {bucket} AS bucket FROM v),
    pairs AS (
        SELECT a.vec_id AS id_a, bb.vec_id AS id_b
        FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
        WHERE round(list_cosine_similarity(a.e, bb.e), 6) >= 0.3
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    walk(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    ),
    comp AS (SELECT node, min(label) AS group_id FROM walk GROUP BY node),
    assigned AS (
        SELECT em.vec_id, coalesce(c.group_id, em.vec_id) AS group_id
        FROM embeddings em LEFT JOIN comp c ON em.vec_id = c.node
    )
    SELECT vec_id, group_id,
        count(*) OVER (PARTITION BY group_id) AS group_size,
        (vec_id = group_id) AS is_canonical
    FROM assigned
    """


@query("dedup_embedding_groups", _embedding_groups_oracle())
def dedup_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end, ORACLE-CHECKED: sign-LSH bucketed
    embedding near-dup pairs (seeded plane literals shared with the SQL)
    fed through the same min-label-propagation connected components as the
    text dedup — (vec_id, group_id, group_size, is_canonical) for every
    embedding. The full approximate pipeline, not just the edge list, is
    hash-verified."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        duplicate_groups,
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.3)
    return duplicate_groups(pairs, all_ids=emb, id_col="vec_id").select(
        "vec_id", "group_id", "group_size", "is_canonical"
    )


_PROFILE_COLS = (
    "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_returnflag", "l_linestatus", "l_shipdate",
)


def _profile_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import sql_profile_table

    return sql_profile_table(
        "lineitem",
        _PROFILE_COLS,
        types={
            "l_quantity": "float",
            "l_extendedprice": "float",
            "l_discount": "float",
            "l_shipdate": "ts",
        },
    )


@query("profile_lineitem", _profile_oracle())
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profiling (ANALYZE-style ingest gate): per-column
    row/null/distinct counts and min/max over the widest fact table — ONE
    aggregation job; exact distincts (one Expand) for oracle parity, with
    the HLL++ flavor as the scale switch."""
    from asctb_ct_label_mapper_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "lineitem"), _PROFILE_COLS)


def _minhash_incremental_oracle(
    threshold: float = 0.2, n_hashes: int = 16, bands: int = 8
) -> str:
    """DuckDB replay of dedup_incremental: the md5-affine signature family
    (same literals as _minhash_affine_oracle) computed per side — batch =
    doc_id % 10 = 0, corpus = the rest — candidates via the cross-side
    band equi-join, exact-Jaccard verify."""
    from asctb_ct_label_mapper_spark.operators.dedup import minhash_affine_params

    a, b, p = minhash_affine_params(n_hashes)
    r = n_hashes // bands
    base = f"(CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {p})"
    sig_terms = ",\n             ".join(
        f"coalesce(list_min([({a[j]} * {base} + {b[j]}) % {p} for s in shingles]), {p})"
        for j in range(n_hashes)
    )
    jac = (
        "CASE WHEN len(list_distinct(list_concat(sb.shingles, sm.shingles))) > 0 "
        "THEN CAST(len(list_intersect(sb.shingles, sm.shingles)) AS DOUBLE) "
        "/ len(list_distinct(list_concat(sb.shingles, sm.shingles))) ELSE 0.0 END"
    )
    return f"""
    WITH sh AS (
        SELECT doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sig AS (
        SELECT doc_id, shingles,
            [{sig_terms}] AS sig
        FROM sh
    ),
    banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string([CAST(x AS VARCHAR)
                                    for x in sig[b*{r}+1 : b*{r}+{r}]], '|')) AS bhash
        FROM sig, range(0, {bands}) t(b)
    ),
    cand AS (
        SELECT DISTINCT bb.doc_id AS batch_id, cb.doc_id AS match_id
        FROM banded bb
        JOIN banded cb ON bb.band = cb.band AND bb.bhash = cb.bhash
        WHERE bb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0
    )
    SELECT c.batch_id, c.match_id, round({jac}, 6) AS jaccard
    FROM cand c
    JOIN sh sb ON sb.doc_id = c.batch_id
    JOIN sh sm ON sm.doc_id = c.match_id
    WHERE {jac} >= {threshold}
    """


@query("dedup_incremental", _minhash_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, ORACLE-CHECKED: a new batch (doc_id % 10 == 0)
    near-dup-matched against the existing corpus (the rest) — batch bands
    broadcast against one corpus scan, corpus never reshuffled; md5-affine
    signature literals shared with the generated DuckDB SQL."""
    from asctb_ct_label_mapper_spark.operators.dedup import minhash_dedup_incremental

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_dedup_incremental(corpus, batch)


def _minhash_incremental_sig_oracle(
    threshold: float = 0.2, n_hashes: int = 16, bands: int = 8
) -> str:
    """DuckDB replay of dedup_incremental_sig: same md5-affine signatures
    and banding as _minhash_incremental_oracle, but verification is the
    MinHash AGREEMENT fraction (matching components / n_hashes) — the
    text-free estimate the precomputed-signature path uses."""
    from asctb_ct_label_mapper_spark.operators.dedup import minhash_affine_params

    a, b, p = minhash_affine_params(n_hashes)
    r = n_hashes // bands
    base = f"(CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {p})"
    sig_terms = ",\n             ".join(
        f"coalesce(list_min([({a[j]} * {base} + {b[j]}) % {p} for s in shingles]), {p})"
        for j in range(n_hashes)
    )
    est = (
        "CAST(list_sum([CASE WHEN sb.sig[j] = sm.sig[j] THEN 1 ELSE 0 END "
        f"for j in range(1, {n_hashes} + 1)]) AS DOUBLE) / {n_hashes}"
    )
    return f"""
    WITH sh AS (
        SELECT doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sig AS (
        SELECT doc_id,
            [{sig_terms}] AS sig
        FROM sh
    ),
    banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string([CAST(x AS VARCHAR)
                                    for x in sig[b*{r}+1 : b*{r}+{r}]], '|')) AS bhash
        FROM sig, range(0, {bands}) t(b)
    ),
    cand AS (
        SELECT DISTINCT bb.doc_id AS batch_id, cb.doc_id AS match_id
        FROM banded bb
        JOIN banded cb ON bb.band = cb.band AND bb.bhash = cb.bhash
        WHERE bb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0
    )
    SELECT c.batch_id, c.match_id, round({est}, 6) AS jaccard
    FROM cand c
    JOIN sig sb ON sb.doc_id = c.batch_id
    JOIN sig sm ON sm.doc_id = c.match_id
    WHERE {est} >= {threshold}
    """


@query("dedup_incremental_sig", _minhash_incremental_sig_oracle())
def dedup_incremental_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRECOMPUTED-SIGNATURE incremental dedup path (VERDICT r6 #4),
    ORACLE-CHECKED: signatures are written ONCE to a parquet table
    (simulating the ingest-time S7 write), read back, and the dedup query
    runs with ``corpus=None`` — candidate generation bands the stored
    arrays natively and verification is the MinHash agreement estimate, so
    NO text column exists anywhere in the query plan. This is the shape
    that makes daily incremental dedup at 100 TB a signature-table scan
    (n_hashes * 8 bytes/doc) instead of a corpus re-read."""
    import os as _os

    from asctb_ct_label_mapper_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )
    from asctb_ct_label_mapper_spark.sources.sinks import write_parquet

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = _os.path.basename(sf_dir.rstrip("/"))
    # SHARED path on purpose (exempt from the _fixture_dir pid suffix):
    # the marker protocol below makes this write-once PER CORPUS STATE
    # across processes — steady-state sessions only READ, and a rewrite
    # happens solely when the doc count changes, so concurrent sessions
    # on the same corpus never clobber each other (unlike the
    # always-overwriting round-trip fixtures). Pid-suffixing would
    # charge every process a full 100x signature ingest and wear the
    # session right before the timed reads (measured: isolated
    # dedup_incremental 7.0 -> 10.7 s at docs100x).
    path = f"/tmp/spark_graft_fixtures/minhash_sigs_{tag}"
    # WRITE-ONCE per corpus state (marker records the doc count): the
    # steady-state query path is a signature-table READ — rebuilding every
    # call would both time the ingest write in the bench and race
    # concurrent runs on the shared path
    marker = f"{path}__DONE"
    n_docs = docs.count()
    expected = None
    if _os.path.exists(marker):
        with open(marker) as fh:
            expected = fh.read().strip()
    if expected != str(n_docs):
        write_parquet(minhash_signatures(docs), path)  # ingest-time write (S7)
        with open(marker, "w") as fh:
            fh.write(str(n_docs))
    sigs = spark.read.parquet(path)
    return minhash_dedup_incremental(
        None,
        None,
        corpus_signatures=sigs.filter(F.col("doc_id") % 10 != 0),
        batch_signatures=sigs.filter(F.col("doc_id") % 10 == 0),
        verify="estimate",
    )


def _funnel_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import sql_funnel_steps

    return sql_funnel_steps("events")


@query("funnel_3step", _funnel_oracle())
def funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step conversion funnel (view -> click -> purchase, 30-min
    step gap): conditional-min window chain over ONE user_id shuffle — no
    joins, no row expansion; step count grows the projection chain, never
    the shuffle count. Oracle replays the same window chain in DuckDB."""
    from asctb_ct_label_mapper_spark.operators.funnel import funnel_steps

    return funnel_steps(_t(spark, sf_dir, "events"))


@query(
    "bigram_logppl_docs",
    sql_bigram_logppl(
        sql_hash_split("(SELECT doc_id, text FROM documents) d", "doc_id")
    ),
)
def bigram_logppl_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-probability quality score (contamination.bigram_logppl):
    add-1-smoothed bigram LM fit on the train split, test docs scored by
    average negative log p(w2|w1) — the sharper curation filter a unigram
    LM can't express (word-order junk scores high here), composed with the
    same deterministic hash split as the unigram flavor."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    assigned = hash_split(docs, "doc_id")
    return bigram_logppl(
        assigned.filter(F.col("split") == "test"),
        assigned.filter(F.col("split") == "train"),
    )


# =============================================================================
# r6 widening: TPC-H join/subquery shapes q7/q10/q14/q18/q19/q22, CUBE
# grouping, Gopher-rule quality filter, substring-level duplication profile
# =============================================================================


@query(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
        round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
            l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: fact-fact join (lineitem-orders) wrapped in four
    dim joins with a cross-dimension disjunction. The two nation dims are
    broadcast, so the only shuffles are the two fact keys; the nation-pair
    predicate cannot be pushed below the joins (it spans both sides) but
    Catalyst pushes the derived IN ('NATION_1','NATION_2') filters onto
    EACH nation scan, shrinking the broadcast to 2 rows before the
    residual OR runs."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
        round(c_acctbal, 2) AS acctbal,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
            AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20 with a
    deterministic (revenue DESC, custkey) tie-break. The quarter filter
    prunes orders BEFORE the fact-fact shuffle and the returnflag filter
    is pushed into the lineitem scan; the final top-20 is a
    TakeOrderedAndProject (per-partition heap + driver merge of 20-row
    heads), never a full sort. Revenue sums in DECIMAL(18,2-scale) — the
    LIMIT boundary sits ON rounded-revenue ties, so double summation
    order (which differs between engines AND between Spark runs at
    different partitioning) must not leak into the cut; exact decimal
    arithmetic makes the sum order-independent."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    """
    SELECT round(
        100.0 * sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount) END)
        / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over one month of
    lineitem joined to part. The month filter reaches the lineitem scan
    (PushedFilters) so the join probes ~1/80th of the fact; part is the
    build side. One global aggregate — no groupBy shuffle at all, just
    partial+final."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol))
                / F.sum(vol),
                6,
            ).alias("promo_pct")
        )
    )


@query(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        round(o_totalprice, 2) AS total_price,
        CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via an IN-subquery that is
    itself an aggregate over the probe fact. The HAVING-aggregate runs
    first (one shuffle on l_orderkey), its tiny survivor set (~0.3% of
    orders) broadcasts into a semi join that prunes BOTH facts before the
    final customer join and re-aggregation — the anti-pattern would be
    joining first and filtering after."""
    return _q18_core(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def _q18_core(li: DataFrame, orders_all: DataFrame, cust: DataFrame) -> DataFrame:
    """Q18 logic over caller-supplied facts — shared by the plain-parquet
    query and the bucketed-layout variant (same plan shape; the bucketed
    inputs elide the l_orderkey exchanges)."""
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey")
    )
    orders = orders_all.join(
        F.broadcast(big),
        F.col("o_orderkey") == big["l_orderkey"],
        "leftsemi",
    )
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
    )


@query(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. Catalyst's
    CNF conversion extracts the single-side implications — part gets
    brand IN (...) AND p_size <= 15, lineitem gets l_quantity BETWEEN 1
    AND 30 — and pushes each into its scan, so the join probes only
    plausible rows and the full disjunction runs as the join residual.
    Hand-distributing the OR is exactly what the optimizer already does."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@query(
    "q22_idle_customers",
    """
    SELECT c_mktsegment, count(*) AS n_cust,
        round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-aggregate subquery (above-average balance)
    plus NOT EXISTS, declaratively: the 1-row average cross-joins in as a
    broadcast (no collect to the driver — the threshold never leaves the
    executors' plan), and NOT EXISTS is a left-anti join against the
    recent-order fact (the date filter is pushed into the orders scan
    before the anti join's o_custkey shuffle). At 100 TB the
    distinct-custkey projection of recent orders is the build side."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "g_cube_counts",
    """
    SELECT event_type,
        CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
        count(*) AS n_events,
        round(sum(value), 2) AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(EXTRACT(isodow FROM ts) AS INT))
    """,
)
def g_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, ISO day-of-week): all four grouping sets in
    one pass — Spark expands the grouping sets map-side, so the shuffle
    carries each input row once per set but still does partial
    aggregation first (same Expand+HashAggregate plan GROUPING SETS and
    ROLLUP share; g_rollup_counts covers the hierarchy flavor). Day
    numbering pinned to ISO (Mon=1) on both engines: Spark weekday()+1 ==
    DuckDB isodow."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            (F.expr("weekday(ts)") + 1).cast("int").alias("dow"),
            "value",
        )
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "g_grouping_sets",
    """
    SELECT event_type,
        CAST(EXTRACT(isodow FROM ts) AS INT) AS dow,
        count(*) AS n_events,
        round(sum(value), 2) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type),
                            (CAST(EXTRACT(isodow FROM ts) AS INT)),
                            ())
    """,
)
def g_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third member of the rollup/cube family,
    §2.7-adjacent): per-type totals, per-dow totals, and the grand total
    in ONE pass — the marginals-only report a CUBE would over-compute
    (it would add the (type, dow) cross that this query doesn't want).
    Same Expand + partial-agg plan shape as cube/rollup."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("weekday(ts)") + 1).cast("int").alias("dow"),
        "value",
    )
    return ev.groupingSets(
        [["event_type"], ["dow"], []], "event_type", "dow"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query("quality_rules_docs", sql_quality_rules("documents"))
def quality_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 rule-based quality filter (curation.quality_rules): each
    rule its own 0/1 column so curation reports can attribute rejections
    per rule — the transparent sibling of text_stats' composite score."""
    return quality_rules(_t(spark, sf_dir, "documents").select("doc_id", "text"))


@query("dup_ngram_spans_docs", sql_dup_ngram_spans("documents", n=3))
def dup_ngram_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile (dedup.dup_ngram_spans): per-doc
    count/fraction of word 3-grams that also occur in another document —
    the boilerplate-detection operator doc-level near-dup families miss."""
    return dup_ngram_spans(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), n=3
    )


@query(
    "jsonl_roundtrip",
    """
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 = 0
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus round-trip (sources/jsonl.py): export a documents
    subset as gzipped JSONL shards, inject two malformed lines into a
    fresh shard (truncated-upload simulation), scan back in PERMISSIVE
    mode with an explicit schema, and return only the clean rows. The
    oracle reads the same subset straight from parquet — surviving
    prologue bytes, dropped good rows, or corrupt rows leaking into the
    typed columns all break the hash."""
    import glob
    import gzip
    import os

    from pyspark.sql import types as T

    from asctb_ct_label_mapper_spark.sources.jsonl import (
        jsonl_schema_with_corrupt,
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    base = _fixture_dir("jsonl_rt")
    src = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "lang", "n_chars")
    )
    write_jsonl(src, base, compression="gzip")
    # fresh shard with malformed lines: never rewrite a Spark part file in
    # place (its .crc sidecar would no longer match on re-read)
    bad = os.path.join(base, "zz_corrupt_shard.json.gz")
    if not os.path.exists(bad):
        with gzip.open(bad, "wb") as fh:
            fh.write(b'{"doc_id": 999999999, "lang": "en", "n_ch\n')
            fh.write(b"not json at all\n")
    schema = jsonl_schema_with_corrupt(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    shards = sorted(glob.glob(os.path.join(base, "part-*.json.gz"))) + [bad]
    clean, _quarantine = split_corrupt(read_jsonl(spark, shards, schema))
    return clean


@query(
    "sample_capped",
    sql_capped_sample(
        "documents", n_per_group=20, group_col="lang",
        cols="doc_id, lang, n_chars",
    ),
)
def sample_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-capped per-group sampling (curation.capped_sample): exactly
    min(20, |group|) docs per language in deterministic md5 order — the
    fixed-size eval-slice constructor; one window shuffle on the group
    key."""
    return capped_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        n_per_group=20,
        group_col="lang",
    )


@query(
    "chunk_docs",
    sql_chunk_documents("documents", chunk_size=64, overlap=16),
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker (curation.chunk_documents): 64-token windows
    with 16-token overlap over every document — the RAG-index /
    long-context segmentation step. Narrow generator plan: rows multiply,
    nothing shuffles."""
    return chunk_documents(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        chunk_size=64,
        overlap=16,
    )


@query(
    "mixture_budget_docs",
    sql_mixture_budget_sample(
        "documents",
        budgets={"src0": 4000, "src1": 2000, "src3": 1000},
        default_budget=500,
    ),
)
def mixture_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (curation.mixture_budget_sample):
    per-source document selection in deterministic md5 order until each
    source's token budget is met — mixture weights -> concrete epoch
    corpus. One window shuffle on the source key."""
    return mixture_budget_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        budgets={"src0": 4000, "src1": 2000, "src3": 1000},
        default_budget=500,
    )


@query("corpus_manifest_docs", sql_corpus_manifest("documents"))
def corpus_manifest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard corpus handoff manifest (sinks.corpus_manifest): doc
    count, token count, order-independent md5 content checksum — the
    integrity contract a 100 TB corpus transfer is verified against."""
    return corpus_manifest(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )


@query(
    "embedding_centroids",
    """
    SELECT label, dim,
        round(avg(v), 6) AS mean_val,
        count(*) AS n_vecs
    FROM (
        SELECT label,
            CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) AS dim,
            CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dim, mean_val,
    n_vecs) — the aggregate that trains an IVF coarse quantizer or audits
    class geometry before semantic dedup. Plan: posexplode (narrow — dim
    index stays local) then ONE map-side-combinable groupBy(label, dim):
    the shuffle carries 10 labels x 64 dims partial sums per map task,
    NOT the vectors. The alternative — collecting vectors per label and
    averaging driver-side — is the anti-pattern this operator exists to
    replace; this shape is how a 100 TB embedding table reduces to a
    k x d model with one pass."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


@query(
    "scd2_user_value",
    """
    SELECT user_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS effective_from,
        coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'), '9999-12-31')
            AS effective_to,
        round(value, 2) AS value,
        CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history construction: turn a change log (purchase
    events per user) into validity intervals — effective_from = change
    ts, effective_to = next change (open interval sentinel for the
    current row), is_current flag. The warehouse pattern for
    slowly-changing dimensions, built with ONE keyed window (lead), no
    self-join — at 100 TB the shuffle is the user key, and the interval
    build is pipelined inside the window stage. Deterministic tie-break
    on (ts, event_id) so same-timestamp changes order identically on
    both engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("effective_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"), F.lit("9999-12-31")
        ).alias("effective_to"),
        F.round("value", 2).alias("value"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@query("dedup_scrub_spans", sql_remove_dup_ngrams("documents", n=3))
def dedup_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrub (dedup.remove_dup_ngrams): delete tokens
    inside cross-document duplicated word 3-grams — the removal half of
    Lee et al. 2022's exact-substring dedup; the profiler
    (dup_ngram_spans_docs) only measures. Three shuffles, no all-pairs."""
    return remove_dup_ngrams(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), n=3
    )


@query(
    "merge_upsert_orders",
    """
    WITH changes AS (
        SELECT o_orderkey, 'X' AS o_orderstatus,
            round(o_totalprice * 1.1, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT 900000000 + r_regionkey AS o_orderkey, 'N' AS o_orderstatus,
            100.0 AS o_totalprice
        FROM region
    )
    SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice,
        CASE WHEN c.o_orderkey IS NULL THEN 'kept'
             WHEN b.o_orderkey IS NULL THEN 'inserted'
             ELSE 'updated' END AS merge_action
    FROM orders b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (SCD-1 snapshot upsert): apply a change set
    (updates for every 100th order + brand-new rows) to the orders
    snapshot via ONE full-outer hash join with column-wise coalesce —
    matched rows take the change side, unmatched-base rows pass through,
    unmatched-change rows insert. The per-row merge_action column is the
    audit trail MERGE statements emit. At 100 TB both sides shuffle on
    the key once; a bucketed base table (tests/test_bucketing.py) drops
    even that exchange, which is exactly how warehouse MERGE pipelines
    lay out their base snapshots."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = (
        base.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        )
        .unionByName(
            _t(spark, sf_dir, "region").select(
                (F.lit(900000000) + F.col("r_regionkey")).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(100.0).alias("o_totalprice"),
            )
        )
    )
    b, c = base.alias("b"), changes.alias("c")
    return b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full").select(
        F.coalesce(F.col("c.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("c.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(F.col("c.o_orderkey").isNull(), "kept")
        .when(F.col("b.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


# =============================================================================
# Round-7 widening: snapshot reconciliation, weighted sampling, training-
# shard shuffle, exact quantile profiles, dedup-quality metrics, DSIR-style
# importance selection
# =============================================================================

_DIFF_OLD_SQL = "SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3"
_DIFF_NEW_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
    FROM documents WHERE doc_id % 11 <> 7
"""


def _corpus_diff_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.snapshot import sql_corpus_diff

    return sql_corpus_diff(_DIFF_OLD_SQL, _DIFF_NEW_SQL)


@query("corpus_diff_docs", _corpus_diff_oracle())
def corpus_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (snapshot.corpus_diff): two deterministic
    releases of the corpus (one slice dropped, one added, every 13th doc
    edited) diffed by md5 content hash — per-doc added/removed/changed,
    churn-sized output. One full-outer equi-join on doc_id carrying
    (id, hash) only; the text never crosses the exchange."""
    from asctb_ct_label_mapper_spark.operators.snapshot import corpus_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 11 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def _weighted_sample_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import sql_weighted_sample

    return sql_weighted_sample("documents", n=500, weight_col="n_chars")


@query("weighted_sample_docs", _weighted_sample_oracle())
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (curation.weighted_sample,
    Efraimidis-Spirakis): 500 docs drawn proportional to length via
    deterministic md5 uniforms — narrow key projection + one global
    top-n (TakeOrderedAndProject), no sort shuffle."""
    from asctb_ct_label_mapper_spark.operators.curation import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        n=500,
        weight_col="n_chars",
    )


def _shuffle_shards_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import sql_shuffle_shards

    return sql_shuffle_shards("documents", n_shards=16, seed=1)


@query("shuffle_shards_docs", _shuffle_shards_oracle())
def shuffle_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (curation.shuffle_shards): every doc
    assigned a seeded-md5 shard + in-shard position; shard-major read
    order is the epoch permutation. One hash-uniform exchange + per-shard
    window — no global sort bottleneck."""
    from asctb_ct_label_mapper_spark.operators.curation import shuffle_shards

    return shuffle_shards(
        _t(spark, sf_dir, "documents").select("doc_id"), n_shards=16, seed=1
    )


def _length_quantiles_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import sql_group_quantiles

    return sql_group_quantiles("documents", "n_chars", "lang")


@query("length_quantiles_docs", _length_quantiles_oracle())
def length_quantiles_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (profile.group_quantiles):
    nearest-rank p25/p50/p75/p90/p99 of n_chars — positional definition
    shared with the oracle, one group-key shuffle + conditional agg."""
    from asctb_ct_label_mapper_spark.operators.profile import group_quantiles

    return group_quantiles(
        _t(spark, sf_dir, "documents").select("lang", "n_chars"),
        "n_chars",
        "lang",
    )


def _dedup_quality_oracle(
    threshold: float = 0.2, n_hashes: int = 16, bands: int = 8
) -> str:
    """Compose the md5-affine MinHash replay (predicted pairs) with a
    corpus-wide exact-Jaccard truth set and emit confusion metrics."""
    from asctb_ct_label_mapper_spark.operators.dedup import minhash_affine_params

    a, b, p = minhash_affine_params(n_hashes)
    r = n_hashes // bands
    base = f"(CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {p})"
    sig_terms = ",\n             ".join(
        f"coalesce(list_min([({a[j]} * {base} + {b[j]}) % {p} for s in shingles]), {p})"
        for j in range(n_hashes)
    )
    from asctb_ct_label_mapper_spark.operators.dedup import sql_pair_metrics

    jac = (
        "CASE WHEN len(list_distinct(list_concat(sa.shingles, sb.shingles))) > 0 "
        "THEN CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) "
        "/ len(list_distinct(list_concat(sa.shingles, sb.shingles))) ELSE 0.0 END"
    )
    sh_cte = """sh AS (
        SELECT doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )"""
    pred_sql = f"""
    WITH {sh_cte},
    sig AS (
        SELECT doc_id, [{sig_terms}] AS sig FROM sh
    ),
    banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string([CAST(x AS VARCHAR)
                                    for x in sig[b*{r}+1 : b*{r}+{r}]], '|')) AS bhash
        FROM sig, range(0, {bands}) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
                     AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE {jac} >= {threshold}
    """
    truth_sql = f"""
    WITH {sh_cte}
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
    FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
    WHERE {jac} >= {threshold}
    """
    return sql_pair_metrics(pred_sql, truth_sql)


@query("dedup_minhash_quality", _dedup_quality_oracle())
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-strategy QA (dedup.pair_metrics): banded-MinHash pairs scored
    against the corpus-wide exact-Jaccard truth set — precision is 1.0 by
    construction (candidates are exact-verified), recall measures what the
    8-band/16-hash LSH actually recovers at threshold 0.2. The evaluation
    every approximate strategy should pass before it gates 100 TB of
    training data; pair-proportional cost (the truth side is the
    set-similarity join, not all-pairs)."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
        pair_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    predicted = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.2, n_hashes=16, bands=8,
        family="md5affine",
    )
    truth = ngram_jaccard_pairs(
        docs.withColumn("_all", F.lit(1)), "text", "doc_id", "_all",
        threshold=0.2,
    )
    return pair_metrics(predicted, truth)


_DSIR_TARGET_SQL = (
    "SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')"
)
_DSIR_POOL_SQL = (
    "SELECT doc_id, text FROM documents WHERE source NOT IN ('src0', 'src1')"
)


def _dsir_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.contamination import (
        sql_importance_select,
    )

    return sql_importance_select(_DSIR_POOL_SQL, _DSIR_TARGET_SQL, n=100)


@query("dsir_select_docs", _dsir_oracle())
def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (contamination.importance_select):
    the 100 pool docs most like the src0/src1 target domain by average
    unigram log importance ratio — two LM aggregates + two scoring joins
    + one global top-n, the mixture-steering selector."""
    from asctb_ct_label_mapper_spark.operators.contamination import (
        importance_select,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = docs.filter(F.col("source").isin("src0", "src1")).select(
        "doc_id", "text"
    )
    pool = docs.filter(~F.col("source").isin("src0", "src1")).select(
        "doc_id", "text"
    )
    return importance_select(pool, target, n=100)


@query(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE
    {_GROUPS_CTE_BODY}
    SELECT doc_id, group_id,
        CAST(CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 AS INT) AS bucket,
        CASE
            WHEN CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 100 < 80 THEN 'train'
            WHEN CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 100 < 90 THEN 'val'
            ELSE 'test'
        END AS split
    FROM assigned
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware split (curation.leakage_safe_split): duplicate
    groups (lang-blocked exact-Jaccard pairs -> label propagation) are
    hashed as UNITS, so no near-dup pair straddles train/test — the
    leakage guard plain per-doc hashing cannot give. Oracle composes the
    proven groups recursive CTE with the hash-split arithmetic on
    group_id."""
    from asctb_ct_label_mapper_spark.operators.curation import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.05)
    return leakage_safe_split(docs.select("doc_id"), pairs).select(
        "doc_id", "group_id", "bucket", "split"
    )


@query(
    "normalize_text_docs",
    """
    SELECT doc_id,
        trim(regexp_replace(
            regexp_replace(nfc_normalize(messy),
                           '[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]', '', 'g'),
            '\\s+', ' ', 'g')) AS normalized
    FROM (
        SELECT doc_id,
            CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN text || ' caf' || chr(101) || chr(769)
                WHEN 1 THEN chr(7) || '  ' || text || chr(9) || chr(9) || 'x '
                ELSE text
            END AS messy
        FROM documents
    )
    """,
)
def normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (nlp.normalize_text): deterministic mess is
    injected (decomposed e+COMBINING ACUTE, a BEL control, tab runs) and
    the NFC + control-strip + whitespace-collapse pass must produce
    byte-identical output to DuckDB's nfc_normalize chain — proving the
    canonicalization both engines would hash AFTER is the same text."""
    from asctb_ct_label_mapper_spark.functions.nlp import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    messy = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" caf"), F.lit("é")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("  "), F.col("text"), F.lit("\t\t"), F.lit("x ")
            ),
        )
        .otherwise(F.col("text"))
        .alias("messy"),
    )
    return normalize_text(messy, "messy").select("doc_id", "normalized")


def _mixture_report_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import sql_mixture_report

    return sql_mixture_report("documents", "source")


@query("mixture_report_docs", _mixture_report_oracle())
def mixture_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mixture report (curation.mixture_report): per-source
    doc/token counts, token share, cumulative share — the Pareto table
    mixture decisions start from. One corpus aggregate; windows run over
    the group-count-sized result, never the corpus."""
    from asctb_ct_label_mapper_spark.operators.curation import mixture_report

    return mixture_report(_t(spark, sf_dir, "documents"), "source")


def _outliers_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import sql_flag_outliers_iqr

    return sql_flag_outliers_iqr(
        "documents", "n_chars", "lang", factor=0.8,
        cols="doc_id, lang, n_chars",
    )


@query("length_outliers_docs", _outliers_oracle())
def length_outliers_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Tukey-fence length outliers (profile.flag_outliers_iqr,
    factor tightened to 0.8 so the synthetic near-uniform lengths yield a
    non-empty flag set): exact nearest-rank q25/q75 -> broadcast fence
    join -> churn-sized outlier rows — the per-domain length gate a fixed
    global threshold gets wrong."""
    from asctb_ct_label_mapper_spark.operators.profile import flag_outliers_iqr

    return flag_outliers_iqr(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        "n_chars",
        "lang",
        factor=0.8,
    ).select("doc_id", "lang", "n_chars", "fence_lo", "fence_hi", "side")


_MMR_ORACLE = """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 = 0),
    r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id % 10 <> 0),
    s AS (SELECT q.vec_id, r.rid, list_cosine_similarity(q.e, r.e) AS sc,
                 r.e AS re
          FROM q CROSS JOIN r),
    pool AS (
        SELECT vec_id, rid, sc, re FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sc DESC, rid) AS rn
            FROM s
        ) WHERE rn <= 8
    ),
    s1 AS (
        SELECT vec_id, rid, sc, re, 0.7 * sc AS m FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sc DESC, rid) AS rn
            FROM pool
        ) WHERE rn = 1
    ),
    c2 AS (
        SELECT p.vec_id, p.rid, p.sc, p.re,
            0.7 * p.sc - (1.0 - 0.7) * list_cosine_similarity(p.re, s1.re) AS m
        FROM pool p JOIN s1 ON p.vec_id = s1.vec_id AND p.rid <> s1.rid
    ),
    s2 AS (
        SELECT vec_id, rid, sc, re, m FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY m DESC, rid) AS rn
            FROM c2
        ) WHERE rn = 1
    ),
    c3 AS (
        SELECT p.vec_id, p.rid, p.sc,
            0.7 * p.sc - (1.0 - 0.7) * greatest(
                list_cosine_similarity(p.re, s1.re),
                list_cosine_similarity(p.re, s2.re)) AS m
        FROM pool p
        JOIN s1 ON p.vec_id = s1.vec_id
        JOIN s2 ON p.vec_id = s2.vec_id
        WHERE p.rid <> s1.rid AND p.rid <> s2.rid
    ),
    s3 AS (
        SELECT vec_id, rid, sc, m FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY m DESC, rid) AS rn
            FROM c3
        ) WHERE rn = 1
    )
    SELECT vec_id, rid AS ref_id, round(sc, 6) AS score,
           round(m, 6) AS mmr_score, 1 AS mmr_rank FROM s1
    UNION ALL
    SELECT vec_id, rid, round(sc, 6), round(m, 6), 2 FROM s2
    UNION ALL
    SELECT vec_id, rid, round(sc, 6), round(m, 6), 3 FROM s3
"""


@query("mmr_rerank_topk", _MMR_ORACLE)
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval (similarity.mmr_rerank): exact top-8 candidate
    pool per query, then 3 greedy MMR picks (lambda=0.7) — relevance
    traded against max-cosine-to-selected, the RAG redundancy fix. The
    oracle UNROLLS the greedy loop (one CTE per step) so even the
    iterative rerank is hash-verified cross-engine; per-query groups run
    as one applyInPandas, embarrassingly parallel at corpus scale."""
    from asctb_ct_label_mapper_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    pool = top_k_similarity_join(
        queries_df, reference, k=8, query_id_cols=["vec_id"], ref_id_col="vec_id"
    ).select("vec_id", "ref_id", "score")
    out = mmr_rerank(pool, reference, k=3, lam=0.7, query_id_cols=("vec_id",))
    return out.select(
        "vec_id",
        "ref_id",
        F.round("score", 6).alias("score"),
        F.round("mmr_score", 6).alias("mmr_score"),
        "mmr_rank",
    )


def _ivfpq_oracle(
    dim: int = 64,
    n_lists: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    n_codes: int = 16,
    k: int = 3,
    refine: int = 4,
    seed_lists: int = 11,
    seed_cb: int = 23,
) -> str:
    """Generate the DuckDB oracle for cos_topk_ivfpq — the two seeded
    literal techniques COMPOSED: IVF list assignment/probing (per-centroid
    UNION branches, max-dot, ties to the lower list id) restricts the
    candidate space, then PQ encode/LUT/ADC (sub-codebook literals) ranks
    within probed lists, refine cut, exact rescore, top-k."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        seeded_centroids,
        seeded_subcentroids,
    )

    cents = seeded_centroids(dim, n_lists, seed_lists)
    cb = seeded_subcentroids(dim, n_sub, n_codes, seed_cb)
    sub_dim = dim // n_sub

    def lit(vec) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def branches(pred: str) -> str:
        parts = []
        for i, c in enumerate(cents):
            parts.append(
                f"SELECT vec_id, e, {i} AS lid, list_dot_product(e, {lit(c)}) AS dp\n"
                f"         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e\n"
                f"               FROM embeddings WHERE vec_id % 10 {pred})"
            )
        return "\n        UNION ALL\n        ".join(parts)

    def sub_slice(col: str, s: int) -> str:
        return f"{col}[{s * sub_dim + 1}:{s * sub_dim + sub_dim}]"

    code_exprs = []
    for s in range(n_sub):
        dl = (
            "["
            + ", ".join(
                f"-(list_dot_product({sub_slice('e', s)}, {lit(cb[s, c])}))"
                for c in range(n_codes)
            )
            + "]"
        )
        code_exprs.append(f"list_position({dl}, list_min({dl})) - 1")
    code_list = "[" + ",\n            ".join(code_exprs) + "]"
    lut_rows = []
    for s in range(n_sub):
        lut_rows.append(
            "["
            + ", ".join(
                f"list_dot_product({sub_slice('e', s)}, {lit(cb[s, c])})"
                for c in range(n_codes)
            )
            + "]"
        )
    lut_list = "[" + ",\n            ".join(lut_rows) + "]"
    adc = " + ".join(f"q.lut[{s + 1}][i.code[{s + 1}] + 1]" for s in range(n_sub))
    return f"""
    WITH qd AS (
        {branches("= 0")}
    ),
    rd AS (
        {branches("<> 0")}
    ),
    qa AS (
        SELECT vec_id, e, lid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dp DESC, lid) AS rn
            FROM qd
        ) WHERE rn <= {n_probe}
    ),
    ra AS (
        SELECT vec_id AS rid, e, lid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dp DESC, lid) AS rn
            FROM rd
        ) WHERE rn = 1
    ),
    idx AS (
        SELECT rid, lid,
            {code_list} AS code
        FROM ra
    ),
    ql AS (
        SELECT vec_id, lid,
            {lut_list} AS lut
        FROM qa
    ),
    cand AS (
        SELECT q.vec_id, i.rid, ({adc}) AS adc
        FROM ql q JOIN idx i ON q.lid = i.lid
    ),
    survivors AS (
        SELECT DISTINCT vec_id, rid FROM (
            SELECT vec_id, rid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY adc DESC, rid) AS arank
            FROM cand
        ) WHERE arank <= {k * refine}
    ),
    rescored AS (
        SELECT s.vec_id, s.rid AS ref_id,
            round(list_cosine_similarity(q.e, r.e), 6) AS score
        FROM survivors s
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id % 10 = 0) q ON s.vec_id = q.vec_id
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id % 10 <> 0) r ON s.rid = r.vec_id
    )
    SELECT vec_id, ref_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY score DESC, ref_id) AS rank
        FROM rescored
    ) WHERE rank <= {k}
    """


@query("cos_topk_ivfpq", _ivfpq_oracle())
def cos_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (similarity.ivfpq_topk) — the index family
    that holds when BOTH parents hit their ceilings: codes live in a
    list-partitioned DataFrame (never broadcast, unlike plain PQ), and
    probed candidates are ADC-ranked over 8-byte codes before raw vectors
    are touched (unlike plain IVF). Candidates = n_probe/n_lists of the
    corpus; every shuffle an equi-join or per-query window. Fully
    hash-checked: the oracle composes the seeded-centroid and seeded-
    codebook literal replays."""
    from asctb_ct_label_mapper_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    out = ivfpq_topk(
        queries_df, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id",
    )
    return out.select(
        "vec_id", "ref_id", F.round("score", 6).alias("score"), "rank"
    )


def _char_entropy_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import sql_char_entropy

    return sql_char_entropy("documents")


@query("char_entropy_docs", _char_entropy_oracle())
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document
    (textstats.char_entropy): the model-free gibberish gate — base64 /
    binary-in-text scores near log2(alphabet), repeated-char spam near 0,
    natural language in a stable band. One Arrow pass, zero shuffle."""
    from asctb_ct_label_mapper_spark.operators.textstats import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def _bpe_pairs_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import sql_bpe_pair_counts

    return sql_bpe_pair_counts("documents", k=50)


@query("bpe_pair_counts_docs", _bpe_pairs_oracle())
def bpe_pair_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction, distributed half (textstats.bpe_pair_counts):
    top-50 adjacent-character merge candidates weighted by word frequency —
    one corpus scan to the vocabulary-sized word table, pairs explode over
    DISTINCT words only. The full greedy merge loop
    (textstats.bpe_learn_merges) trains from the same word table
    driver-side, the shape real tokenizer trainers use."""
    from asctb_ct_label_mapper_spark.operators.textstats import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), k=50)


def _ann_recall_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dedup import sql_pair_metrics

    return sql_pair_metrics(
        _lsh_topk_oracle(), _COS_TOPK_ORACLE, id_cols=("vec_id", "ref_id")
    )


@query("ann_recall_lsh", _ann_recall_oracle())
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-strategy QA (dedup.pair_metrics over (query, neighbor) pairs):
    the sign-LSH top-3 scored against the exact brute-force top-3 —
    recall@3 of the bucketed index, the acceptance metric every
    approximate similarity path must publish before serving. Same
    confusion-metric operator as the dedup QA query; both inputs are
    k-bounded pair sets, so evaluation costs what the strategies cost."""
    from asctb_ct_label_mapper_spark.operators.dedup import pair_metrics

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    reference = emb.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    approx = lsh_bucketed_topk(
        queries_df, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id",
        n_planes=None, dim=64,
    ).select("vec_id", "ref_id")
    exact = top_k_similarity_join(
        queries_df, reference, k=3, query_id_cols=["vec_id"], ref_id_col="vec_id"
    ).select("vec_id", "ref_id")
    return pair_metrics(approx, exact, id_cols=("vec_id", "ref_id"))


@query(
    "cos_topk_hnsw",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
        CAST(3 AS BIGINT) AS k, TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 10 = 0
    """,
)
def cos_topk_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HNSW rung (similarity.hnsw_topk, r13 verdict #6):
    driver-built graph over the broadcast-sized reference, probed per
    Arrow batch — the IVF-indexed precedent for index-once/query-many.
    Graph construction has no SQL replay, so the entry uses the
    recall-envelope gate (the distinct_users_sketch precedent): the
    query computes recall@3 against the exact rung ON SPARK and emits
    (n_queries, k, recall_ok = recall >= 0.9); the oracle replays the
    query count exactly and asserts the envelope as constant TRUE.
    Measured recall on isotropic vectors (ANN's worst case): 0.967 at
    sf0.001, 0.973 at sf0.01, 0.857 at sf0.1 (1.8k refs, m=8,
    ef_search=48) vs LSH-mp's 0.48 / IVF's 0.47 in the same ladder."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        hnsw_topk,
        top_k_similarity_join,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    reference = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    approx = hnsw_topk(
        queries_df, reference, k=3, query_id_cols=["vec_id"],
        ref_id_col="vec_id",
    ).select("vec_id", "ref_id", F.lit(1).alias("_hit"))
    exact = top_k_similarity_join(
        queries_df, reference, k=3, query_id_cols=["vec_id"],
        ref_id_col="vec_id",
    ).select("vec_id", "ref_id")
    return (
        exact.join(approx, ["vec_id", "ref_id"], "left")
        .agg(
            F.count_distinct("vec_id").alias("n_queries"),
            F.sum("_hit").alias("_n_hit"),
            F.count(F.lit(1)).alias("_n_exact"),
        )
        .select(
            "n_queries",
            F.lit(3).cast("long").alias("k"),
            (
                F.try_divide(F.col("_n_hit"), F.col("_n_exact")) >= 0.9
            ).alias("recall_ok"),
        )
    )


_BM25_TERMS = ["spark", "join", "vector"]


def _bm25_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.retrieval import sql_bm25_topk

    return sql_bm25_topk("documents", terms=_BM25_TERMS, k=20)


@query("bm25_topk_docs", _bm25_oracle())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval channel (retrieval.bm25_topk): BM25 top-20 for a
    literal term query. Column-wise tf on the token array (no corpus
    explode, no HOF lambdas), ONE-row corpus-stats agg re-attached by
    broadcast cross join, fixed-order contribution sum so IEEE summation
    order matches the oracle, TakeOrderedAndProject top-k."""
    from asctb_ct_label_mapper_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), terms=_BM25_TERMS, k=20)


def _fuzzy_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.linkage import sql_fuzzy_name_pairs

    return sql_fuzzy_name_pairs("part", "p_name", max_dist=2)


@query("fuzzy_name_pairs_part", _fuzzy_oracle())
def fuzzy_name_pairs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy matcher (linkage.fuzzy_name_pairs): distinct
    part names within Levenshtein distance 2, candidates generated by
    token blocking (equi-join on shared tokens over the DISTINCT name
    table — never all-pairs), verified by native JVM levenshtein per
    deduplicated candidate. The blocking IS the operator contract and the
    oracle replays it verbatim, the same discipline as the LSH family."""
    from asctb_ct_label_mapper_spark.operators.linkage import fuzzy_name_pairs

    return fuzzy_name_pairs(_t(spark, sf_dir, "part"), "p_name", max_dist=2)


def _cohort_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import sql_cohort_retention

    return sql_cohort_retention("events", event_type="purchase")


@query("cohort_retention_events", _cohort_oracle())
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention grid (funnel.cohort_retention): users
    cohorted by the week of their first purchase, cells count distinct
    members active N weeks later. First-date via a min window over ONE
    user_id Exchange (no self-join); week offset is engine-neutral integer
    floor(day-diff/7) arithmetic."""
    from asctb_ct_label_mapper_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), event_type="purchase")


@query(
    "ntile_balance_deciles",
    """
    SELECT decile, count(*) AS n_customers,
        round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / count(*) / 100.0,
              2) AS avg_bal,
        round(min(c_acctbal), 2) AS min_bal,
        round(max(c_acctbal), 2) AS max_bal
    FROM (
        SELECT c_acctbal,
            ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    ) GROUP BY decile
    """,
)
def ntile_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-family member the registry lacked: ntile decile assignment
    over a TOTAL order (balance, custkey — ties broken deterministically so
    both engines assign identical buckets), folded to per-decile stats.
    Scale note: a global-order window is a single-task sort; at 100 TB the
    decile cut points come from group_quantiles/approxQuantile instead —
    this query is the exact-semantics family member, like the exact
    profiler anchoring the HLL flavor."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    # avg via exact integer cents (review finding): summing raw doubles
    # and rounding the mean to 2dp is the round()-decimal-tie float trap —
    # the cents sum is exact in both engines, so the division and rounding
    # see the identical double
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    return (
        cust.select("c_acctbal", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(cents) / F.count(F.lit(1)) / 100.0, 2
            ).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


def _sketch_gate_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import (
        sql_distinct_users_gate,
    )

    return sql_distinct_users_gate("events")


@query("distinct_users_sketch", _sketch_gate_oracle())
def distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count rollup (sketches.distinct_users_rollup):
    raw events -> per-day DataSketches HLL sketches -> weekly + total
    estimates by sketch UNION, never a second scan of the raw stream. The
    pre-aggregation pattern 100 TB distinct-count serving requires.

    VALUE-GATED since r13 (verdict #4): the DataSketches HLL_4 binary
    has no DuckDB replay, but the estimate is checkable — the query
    emits the exact per-period distinct count (hash-matched against
    DuckDB's COUNT(DISTINCT)) plus a boolean pinning the estimate
    inside 3x the lgK=12 relative standard error; the oracle emits
    constant TRUE, so any estimate outside the envelope hash-fails.
    tests/test_sketches.py keeps the tighter 5% assertions on the raw
    rollup."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        distinct_users_gate,
    )

    return distinct_users_gate(_t(spark, sf_dir, "events"))


def _ql_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.retrieval import sql_ql_topk

    return sql_ql_topk("documents", terms=_BM25_TERMS, k=20)


@query("ql_topk_docs", _ql_oracle())
def ql_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood channel (retrieval.ql_topk): the second
    classic lexical scorer, same no-explode column-wise-tf plan as BM25
    with collection frequencies in the ONE-row broadcast stats."""
    from asctb_ct_label_mapper_spark.operators.retrieval import ql_topk

    return ql_topk(_t(spark, sf_dir, "documents"), terms=_BM25_TERMS, k=20)


def _rrf_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.retrieval import sql_rrf_hybrid

    return sql_rrf_hybrid("documents", terms=_BM25_TERMS, channel_k=20, k=20)


@query("rrf_hybrid_docs", _rrf_oracle())
def rrf_hybrid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (retrieval.rrf_fuse): reciprocal-rank fusion of
    the BM25 and query-likelihood channels — rank-only fusion so the two
    score scales never mix. Channels are k-bounded before fusion, so the
    windows and full-outer join run over k rows regardless of corpus
    size; the oracle embeds both channel oracles as CTEs verbatim."""
    from asctb_ct_label_mapper_spark.operators.retrieval import (
        bm25_topk,
        ql_topk,
        rrf_fuse,
    )

    docs = _t(spark, sf_dir, "documents")
    return rrf_fuse(
        bm25_topk(docs, terms=_BM25_TERMS, k=20),
        ql_topk(docs, terms=_BM25_TERMS, k=20),
    )


def _dq_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dq import sql_evaluate_checks

    return sql_evaluate_checks()


@query("dq_report", _dq_oracle())
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (dq.evaluate_checks): declarative expectations —
    row counts, null fractions, uniqueness, value ranges, referential
    integrity via LEFT ANTI join — each compiled to one column-pruned scan
    aggregate and unioned into a check-count-sized report. The pre-flight
    a corpus passes before a training run consumes it."""
    from asctb_ct_label_mapper_spark.operators.dq import (
        DEFAULT_CHECKS,
        evaluate_checks,
    )

    tables = {
        name: _t(spark, sf_dir, name)
        for name in ("orders", "customer", "lineitem", "documents")
    }
    return evaluate_checks(tables, DEFAULT_CHECKS)


@query(
    "w_rolling_24h_value",
    """
    SELECT event_id, user_id,
        sum(CAST(round(value * 100) AS BIGINT)) OVER (
            PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
            RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS roll_cents
    FROM events
    """,
)
def w_rolling_24h_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window family member (the registry's other windows are
    ROWS/unbounded frames): per-user trailing-24h event-value sum. The
    frame is keyed on epoch seconds (engine-neutral integer range — both
    sides TRUNCATE fractional seconds: Spark's unix_timestamp truncates,
    so the oracle floors epoch() before casting, review-caught divergence)
    and the summand is exact integer cents, so no float-summation-order
    trap can enter the hash. One user_id Exchange; in-partition scan."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts").cast("bigint"))
        .rangeBetween(-86399, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w).alias(
            "roll_cents"
        ),
    )


@query(
    "argmax_order_per_customer",
    """
    SELECT o_custkey,
        (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
            AS best_orderkey,
        round((max(struct_pack(p := o_totalprice, k := o_orderkey))).p, 2)
            AS best_price
    FROM orders GROUP BY o_custkey
    """,
)
def argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax WITHOUT a window shuffle-sort: max over a
    (price, orderkey) struct — lexicographic struct comparison gives a
    deterministic tie-break in both engines — then field extraction. The
    agg-based argmax is the scale shape (map-side combinable partial max
    per group) vs a1_topk_window's sort-based rank; both now covered."""
    orders = _t(spark, sf_dir, "orders")
    m = F.max(
        F.struct(
            F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
        )
    )
    return orders.groupBy("o_custkey").agg(
        m.getField("k").alias("best_orderkey"),
        F.round(m.getField("p"), 2).alias("best_price"),
    )


def _gapfill_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import sql_calendar_fill

    return sql_calendar_fill("events", value_threshold=300.0)


@query("gapfill_daily_events", _gapfill_oracle())
def gapfill_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-calendar zero-fill (funnel.calendar_fill): daily counts of
    high-value events per type on a generated day spine x type grid —
    missing cells emit explicit 0 rows (the dashboard/anomaly-detector
    contract). The stream is scanned ONCE into a dimension-sized grid;
    span, type dim, and join base all derive from that grid."""
    from asctb_ct_label_mapper_spark.operators.funnel import calendar_fill

    return calendar_fill(_t(spark, sf_dir, "events"), value_threshold=300.0)


def _winsorize_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import sql_winsorize

    return sql_winsorize("documents", "n_chars", "source", "doc_id")


@query("winsorize_doclen_docs", _winsorize_oracle())
def winsorize_doclen_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (profile.winsorize): document lengths
    clipped to their source's [p5, p95] nearest-rank quantiles — cut
    points via group_quantiles VERBATIM (one positional definition shared
    with the oracle), re-attached by broadcast join, map-side clip."""
    from asctb_ct_label_mapper_spark.operators.profile import winsorize

    return winsorize(
        _t(spark, sf_dir, "documents"), "n_chars", "source", "doc_id"
    )


def _journeys_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import sql_user_journeys

    return sql_user_journeys("events")


@query("user_journeys_events", _journeys_oracle())
def user_journeys_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence assembly (funnel.user_journeys): per (user, day) ordered
    event-type path as one string — collect_list has NO order guarantee,
    so the (ts, id, type) structs are array_sort-ed AFTER collection (one
    groupBy shuffle, no window-then-agg double sort), matching the
    oracle's ordered string_agg exactly."""
    from asctb_ct_label_mapper_spark.operators.funnel import user_journeys

    return user_journeys(_t(spark, sf_dir, "events"))


def _markov_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import (
        sql_markov_transitions,
    )

    return sql_markov_transitions("events")


@query("markov_transitions_events", _markov_oracle())
def markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (funnel.markov_transitions):
    lag window over one user Exchange, |types|²-row aggregate, integer
    counts divided once at the end (no float accumulation)."""
    from asctb_ct_label_mapper_spark.operators.funnel import markov_transitions

    return markov_transitions(_t(spark, sf_dir, "events"))


def _rolling_distinct_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_rolling_distinct_count,
    )

    return sql_rolling_distinct_count("events", window_days=7)


@query("rolling_7d_distinct_users", _rolling_distinct_oracle())
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day
    (timeseries.rolling_distinct_count): the sliding COUNT(DISTINCT) no
    engine can frame-aggregate, rewritten as bounded interval expansion —
    each (user, active-day) covers its next 7 report days, so the answer
    is two hash-distincts + one count. The oracle states the definition
    directly as an inequality join; the Spark side carries the rewrite
    that survives 100 TB."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        rolling_distinct_count,
    )

    return rolling_distinct_count(_t(spark, sf_dir, "events"), window_days=7)


def _concurrency_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_daily_max_concurrency,
    )

    return sql_daily_max_concurrency("events")


@query("max_concurrent_sessions", _concurrency_oracle())
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-min-gap sessions per day
    (timeseries.daily_max_concurrency): interval-algebra sweep line with
    the global running sum decomposed into parallel within-day prefixes
    plus a broadcast day-level carry — the only total-order step is
    dimension-sized. Per-timestamp delta pre-aggregation removes every
    tie-ordering trap before the prefix sums run."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        daily_max_concurrency,
    )

    return daily_max_concurrency(_t(spark, sf_dir, "events"))


def _ewma_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import sql_ewma_by_key

    return sql_ewma_by_key("events", where="event_type = 'purchase'")


@query("ewma_user_value", _ewma_oracle())
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing of purchase values
    (timeseries.ewma_by_key): a RECURSIVE aggregate (s_t depends on
    s_{t-1}) that no window frame expresses, computed as a SEGMENTED
    scan — per-(key, month) affine-map folds plus a dimension-sized
    carry composition, so no task ever holds a whole key's series. Both
    engines run the identical two-phase dyadic-alpha arithmetic, so the
    raw doubles hash-match with no rounding at all."""
    from asctb_ct_label_mapper_spark.operators.timeseries import ewma_by_key

    return ewma_by_key(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    )


def _vocab_growth_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import sql_vocab_growth

    return sql_vocab_growth("documents", n=2, n_shards=10)


@query("vocab_growth_docs", _vocab_growth_oracle())
def vocab_growth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve over ingest shards
    (textstats.vocab_growth): cumulative distinct word-bigram vocabulary
    vs cumulative volume, via the first-seen-shard rewrite (min(shard)
    per gram) — one pass where the naive per-prefix DISTINCT is
    quadratic. The curve is the standard corpus-composition diagnostic
    before a tokenizer/mixture decision."""
    from asctb_ct_label_mapper_spark.operators.textstats import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), n=2, n_shards=10)


def _vocab_sketch_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_vocab_growth_sketch,
    )

    return sql_vocab_growth_sketch("documents", n=2, n_shards=10, k=256)


@query("vocab_growth_sketch", _vocab_sketch_oracle())
def vocab_growth_sketch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate Heaps-law curve via mergeable per-shard KMV sketches
    (textstats.vocab_growth_sketch): each shard keeps its k=256 smallest
    distinct bigram hashes, every prefix estimate is an exact re-cut of
    the prefix's sketch union — the gram stream is never exact-distinct
    shuffled, which is what keeps the exact flavor out of docs100x.
    Deterministic md5 arithmetic, replayed hash-for-hash by the
    oracle."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        vocab_growth_sketch,
    )

    return vocab_growth_sketch(
        _t(spark, sf_dir, "documents"), n=2, n_shards=10, k=256
    )


def _bloom_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dedup import sql_bloom_prefilter

    return sql_bloom_prefilter("documents", split_mod=10, split_lt=7)


@query("dedup_bloom_prefilter", _bloom_oracle())
def dedup_bloom_prefilter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-ledger membership prefilter (dedup.bloom_prefilter_dedup):
    the 70%-of-docs corpus folds into a broadcast 64Ki-bit set (md5
    double hashing, bounded by m bits no matter the corpus size); the
    30% batch tests bits map-side and only the maybe fraction reaches
    the exact-verify join. The output's (bloom_maybe=1, is_dup=0) rows
    ARE the realized false positives — filter quality is part of the
    oracle-checked answer, because every bit position is md5-determined
    on both engines."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        bloom_prefilter_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 < 7)
    batch = docs.filter(F.col("doc_id") % 10 >= 7)
    return bloom_prefilter_dedup(corpus, batch)


def _countmin_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import sql_countmin_topk

    return sql_countmin_topk("documents", k=20)


@query("countmin_topk_docs", _countmin_oracle())
def countmin_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (sketches.countmin_estimate_topk):
    the token stream folds into a 4x1024 counter table (the shuffle's
    whole payload, size-independent of the stream), estimates are min
    over the candidate's row positions, and the one-sided overestimate
    is part of the checked answer. md5-derived positions make this the
    registry's second HASH-MATCHABLE sketch (the HLL rollup is rows-only
    by algorithm privacy; this one replays exactly in SQL)."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        countmin_estimate_topk,
    )

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    return countmin_estimate_topk(toks, "token", k=20)


def _rank_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import sql_global_rank

    return sql_global_rank(
        "documents",
        order_by="n_chars, doc_id",
        cols="doc_id, n_chars",
    )


@query("curriculum_rank_docs", _rank_oracle())
def curriculum_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide curriculum position (curation.global_rank): every doc's
    dense rank in (n_chars, doc_id) order — the direct
    row_number()-over-everything is a one-partition sort, so the operator
    range-buckets the order (here: length // 256, deterministic monotone
    buckets), ranks buckets in parallel, and shifts by broadcast
    cumulative offsets. Oracle states the single-window definition."""
    from asctb_ct_label_mapper_spark.operators.curation import global_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return global_rank(
        docs,
        bucket=(F.col("n_chars") / F.lit(256)).cast("long"),
        order_cols=["n_chars", "doc_id"],
    )


@query(
    "w_cdf_doclen",
    """
    SELECT doc_id, lang,
        round(percent_rank() OVER w, 6) AS pct_rank,
        round(cume_dist() OVER w, 6) AS cdf
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
    """,
)
def w_cdf_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows (percent_rank + cume_dist) — the two
    ranking-family functions the registry's other windows don't cover:
    per-language CDF position of each document's length, the normalized
    form quality thresholds are calibrated on. One lang Exchange; both
    functions evaluate in the same sorted pass. Tie-free ordering via
    doc_id so ranks are engine-identical."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdf"),
    )


@query(
    "r4_except_all",
    """
    SELECT c_nationkey, c_mktsegment FROM customer
    EXCEPT ALL
    SELECT c_nationkey, c_mktsegment FROM customer WHERE c_acctbal < 0
    """,
)
def r4_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics (multiplicity subtraction), the set-op
    flavor r4_except's DISTINCT semantics can't express: each negative-
    balance customer's (nation, segment) row cancels exactly ONE
    occurrence. Spark plans exceptAll as a counted anti-aggregation
    (sum of +1/-1 tags, replicate by remaining count) — one shuffle on
    the row value, no distinct collapse."""
    cust = _t(spark, sf_dir, "customer")
    left = cust.select("c_nationkey", "c_mktsegment")
    right = cust.filter(F.col("c_acctbal") < 0).select(
        "c_nationkey", "c_mktsegment"
    )
    return left.exceptAll(right)


def _mad_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_mad_anomaly_days,
    )

    return sql_mad_anomaly_days("events")


@query("mad_anomaly_events", _mad_oracle())
def mad_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly gate (profile.mad_anomaly_days):
    (event_type, day) cells > 3 MADs from their type's median daily
    count — median/MAD via the registry's one positional nearest-rank
    definition, so the robust statistics hash-match. The stream reduces
    to the type x day grid in the first shuffle; everything after is
    dimension-sized."""
    from asctb_ct_label_mapper_spark.operators.profile import mad_anomaly_days

    return mad_anomaly_days(_t(spark, sf_dir, "events"))


@query(
    "stats_value_by_type",
    """
    SELECT event_type, count(*) AS n,
        round(avg(value), 6) AS mean_value,
        round(stddev_samp(value), 6) AS sd_value,
        round(var_samp(value), 4) AS var_value,
        round(covar_samp(value, epoch_us(ts) / 1000000.0)
              / nullif(stddev_samp(value)
                       * stddev_samp(epoch_us(ts) / 1000000.0), 0), 6)
            AS corr_value_time
    FROM events GROUP BY event_type
    """,
)
def stats_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates (stddev_samp / var_samp /
    corr) — the F-function family the registry's other profiles don't
    touch: per-type value dispersion plus the value-vs-time Pearson
    drift check (a nonzero correlation flags instrumentation drift).
    All single-pass co-moment aggregates: map-side partial states merge
    associatively, one shuffle on the type key."""
    ev = _t(spark, sf_dir, "events")
    t = F.unix_micros("ts") / F.lit(1000000.0)
    # NOT F.corr: under Spark 4's default ANSI mode the corr aggregate
    # divides by zero INTERNALLY on a zero-variance group (a when() guard
    # cannot reach inside the aggregate's own evaluation — probed), where
    # DuckDB returns NULL. Pearson from crash-free co-moments instead:
    # covar_samp / nullif(sd*sd, 0) — the (n-1) factors cancel, division
    # by the NULLIF'd zero yields NULL on both engines
    corr_guarded = F.covar_samp("value", t) / F.nullif(
        F.stddev_samp("value") * F.stddev_samp(t), F.lit(0.0)
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(corr_guarded, 6).alias("corr_value_time"),
    )


def _proportional_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_proportional_sample,
    )

    return sql_proportional_sample("documents", total=100)


@query("sample_proportional", _proportional_oracle())
def sample_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proportional allocation
    (curation.proportional_sample): an exactly-100-row eval slice whose
    per-language counts Hamilton-apportion the corpus mix — integer
    arithmetic end to end (independent rounding misses the total; float
    quotas mis-round at scale). Completes the sampler family: capped
    (fixed n/group), stratified (fixed fraction), weighted (ES), and now
    mix-proportional with an exact total."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        proportional_sample,
    )

    return proportional_sample(
        _t(spark, sf_dir, "documents"), total=100, group_col="lang"
    )


@query(
    "j_nullsafe_join",
    """
    WITH o AS (
        SELECT o_orderkey,
            CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
        FROM orders
    ),
    c AS (
        SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_custkey END AS k,
            count(*) AS n_cust,
            CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                AS bal_cents
        FROM customer GROUP BY 1
    )
    SELECT o.o_orderkey, o.k AS cust_key, c.n_cust, c.bal_cents
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    """,
)
def j_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM) — the
    join-key semantic the registry's other joins never exercise: NULL
    matches NULL as a value instead of vanishing. The NULL stratum on
    the build side is pre-aggregated to one row, so the NULL key is a
    single hash entry, not an accidental cross product. Spark plans
    EqualNullSafe as a true equi-join key (hash/sort-merge, no
    nested-loop fallback)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 13 == 0, F.lit(None))
            .otherwise(F.col("c_custkey"))
            .alias("k"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("_cents"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("_cents").alias("bal_cents"),
        )
    )
    return orders.join(cust, orders.k.eqNullSafe(cust.k)).select(
        "o_orderkey", orders.k.alias("cust_key"), "n_cust", "bal_cents"
    )


@query(
    "gap_ranges_events",
    """
    SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
        event_id - prev_id - 1 AS n_missing
    FROM (
        SELECT event_id, lag(event_id) OVER (ORDER BY event_id) AS prev_id
        FROM events WHERE event_type <> 'error'
    )
    WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    """,
)
def gap_ranges_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-ID range detection (ingest-completeness audit): contiguous
    gaps in the surviving event_id sequence (error rows dropped to
    create gaps). The definition is one GLOBAL lag — a single-partition
    sort at scale — so the operator two-phases it: lag within id-range
    buckets (parallel), plus boundary gaps from a bucket-summary
    (min, max) frame that is dimension-sized by construction. Same
    decomposition family as curriculum_rank and the concurrency sweep:
    the only total order runs over bucket summaries."""
    from asctb_ct_label_mapper_spark.operators.timeseries import id_gap_ranges

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") != "error"
    ).select("event_id")
    return id_gap_ranges(ev, "event_id", bucket_size=1000)


@query(
    "p_explode_outer_docs",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id,
            CASE WHEN len(t) >= 3
                THEN [struct_pack(pos := i - 1,
                                  gram := array_to_string(t[i:i+2], ' '))
                      FOR i IN range(1, len(t) - 1)]
                ELSE [struct_pack(pos := -1, gram := CAST(NULL AS VARCHAR))]
            END AS gs
        FROM toks
    )
    SELECT doc_id, CAST(u.pos AS INT) AS pos, u.gram AS gram
    FROM (SELECT doc_id, unnest(gs) AS u FROM g)
    """,
)
def p_explode_outer_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER generator semantics (posexplode_outer) — the generator
    flavor the registry's other explodes never exercise: documents too
    short for a word trigram emit ONE row with (pos=-1, gram=NULL)
    instead of vanishing, the row-preservation contract audits rely on
    (every input id appears in the exploded output exactly
    max(1, n_grams) times). Narrow Generate node over ONE round-robin
    widening Exchange (sub-split inputs only — see below); the
    oracle replays by building the (pos, gram) struct list directly —
    with a one-element (-1, NULL) sentinel list for short docs — and
    unnesting it (DuckDB has no LATERAL ... WITH ORDINALITY)."""
    from asctb_ct_label_mapper_spark.plans.partitioning import (
        ensure_min_partitions,
    )

    # The interpreted transform+slice trigram HOF inside the Generate is
    # CPU-dense, and a sub-maxPartitionBytes docs file scans as ONE split —
    # the whole explode serialized onto 1 core of 32 (guide §2.5; same
    # class as the r14 vocab_growth fix). No-op at real-table scale.
    docs = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(toks) - 2)
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 3), " ")),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.posexplode_outer(grams).alias("pos", "gram")
    ).select(
        "doc_id",
        F.coalesce(F.col("pos"), F.lit(-1)).cast("int").alias("pos"),
        "gram",
    )


@query(
    "w_rank_family",
    """
    SELECT o_orderkey,
        CAST(floor(o_totalprice / 10000) AS BIGINT) AS price_band,
        CAST(rank() OVER w AS BIGINT) AS rnk,
        CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        CAST(row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY floor(o_totalprice / 10000) DESC, o_orderkey)
             AS BIGINT) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY floor(o_totalprice / 10000) DESC)
    """,
)
def w_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() vs row_number() — the tie-semantics trio
    the registry's other windows never contrast: orders banded into
    10k-price buckets (guaranteed ties) ranked per priority. rank gaps
    after ties, dense_rank doesn't, row_number needs the explicit
    o_orderkey tie-break to be deterministic — the other two are
    tie-stable BY definition, which is why they need no tie-break and
    hash-match as-is."""
    orders = _t(spark, sf_dir, "orders")
    band = F.floor(F.col("o_totalprice") / 10000).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(band.desc())
    w_rn = Window.partitionBy("o_orderpriority").orderBy(
        band.desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        band.alias("price_band"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.row_number().over(w_rn).cast("bigint").alias("rn"),
    )


@query(
    "w_first_last_pack",
    """
    SELECT event_id, user_id,
        round(first_value(value) OVER w_full, 2) AS first_v,
        round(last_value(value) OVER w_full, 2) AS last_v,
        round(nth_value(value, 2) OVER w_full, 2) AS second_v,
        round(last_value(value) OVER w_default, 2) AS running_last
    FROM events
    WINDOW
        w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING),
        w_default AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w_first_last_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with EXPLICIT full frames — and the classic
    trap demonstrated on purpose: ``running_last`` uses the default
    ordered frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW), where
    last_value degenerates to "current row's value" — the #1 window
    misuse in analytics SQL. Both engines agree because the frames are
    stated explicitly; (ts, event_id) ordering is tie-free."""
    ev = _t(spark, sf_dir, "events")
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_default = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.first("value").over(w_full), 2).alias("first_v"),
        F.round(F.last("value").over(w_full), 2).alias("last_v"),
        F.round(F.nth_value("value", 2).over(w_full), 2).alias("second_v"),
        F.round(F.last("value").over(w_default), 2).alias("running_last"),
    )


@query(
    "j_salted_skew",
    """
    WITH fact AS (
        SELECT o_orderkey,
            CASE WHEN o_orderkey % 10 < 7 THEN 1
                 ELSE o_custkey END AS hot_key,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    ),
    dim AS (
        SELECT c_custkey AS hot_key, c_mktsegment FROM customer
    )
    SELECT f.o_orderkey, f.hot_key, d.c_mktsegment, f.price_cents
    FROM fact f JOIN dim d USING (hot_key)
    """,
)
def j_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join IN the driver-checked registry (the measured
    ladder lives in tools/bench_skew.py; this entry proves result
    equivalence cross-engine): 70% of the fact rows share ONE hot key —
    the shape that strands a plain shuffle join on one straggler task.
    ``skew.salted_join`` splits the hot key across n_salts sub-keys
    (fact side hashed by a distributor column, dim side replicated
    n_salts ways), so the hot key's rows spread over n_salts tasks. The
    oracle is the PLAIN join — salting is a physical rewrite that must
    never change the answer, and the hash match is that proof."""
    from asctb_ct_label_mapper_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders")
    fact = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 < 7, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .alias("hot_key"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("hot_key"), "c_mktsegment"
    )
    return salted_join(
        fact, dim, on="hot_key", n_salts=8, distributor="o_orderkey"
    ).select("o_orderkey", "hot_key", "c_mktsegment", "price_cents")


def _dedup_curve_oracle() -> str:
    # shingle-less docs (< 3 tokens) all get the sentinel signature and
    # band-collide pairwise at jaccard 0 — a quadratic degenerate clique
    # that would dominate bin 0; exclude them BEFORE banding (review
    # finding). The inner oracle scans `documents` verbatim, so the
    # filtered CTE is substituted in (single scan site, asserted).
    inner = _minhash_affine_oracle(threshold=0.0)
    assert inner.count("FROM documents") == 1
    inner = inner.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents"
        " WHERE len(string_split(text, ' ')) >= 3)",
    )
    return f"""
    WITH pairs AS ({inner}),
    binned AS (
        SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS bin,
            count(*) AS n_pairs
        FROM pairs GROUP BY 1
    ),
    spine AS (SELECT unnest(generate_series(0, 9)) AS bin)
    SELECT round(s.bin / 10.0, 1) AS threshold,
        CAST(coalesce(b.n_pairs, 0) AS BIGINT) AS n_pairs,
        CAST(sum(coalesce(b.n_pairs, 0)) OVER (ORDER BY s.bin DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS pairs_at_or_above
    FROM spine s LEFT JOIN binned b ON s.bin = b.bin
    """


@query("dedup_threshold_curve", _dedup_curve_oracle())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep QA for the MinHash pipeline: ONE candidate pass
    (banding at threshold 0 keeps every colliding pair) yields the
    whole retained-pairs-vs-Jaccard-threshold curve — the artifact you
    read before picking the production cutoff, instead of re-running
    dedup per candidate threshold. Exact Jaccard bins (0.1 wide, 0.9+
    capped into one bin) left-joined onto a DENSE 0..9 spine (absent
    bins read as explicit zeros) + a reverse cumulative over the 10-row
    dimension. Shingle-less docs are excluded before banding (their
    sentinel signatures form a degenerate all-pairs clique at jaccard
    0). Every hash is the md5-affine family, so the curve hash-matches
    SQL end to end."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    pairs = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.0, n_hashes=16, bands=8,
        family="md5affine",
    )
    binned = (
        pairs.select(
            F.least(
                F.floor(F.col("jaccard") * 10).cast("bigint"), F.lit(9)
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    # dense 0..9 spine: absent bins must read as explicit 0 rows or the
    # cutoff-tuning artifact has holes exactly where the user looks
    spine = docs.sparkSession.range(10).select(F.col("id").alias("bin"))
    filled = spine.join(binned, "bin", "left").select(
        "bin", F.coalesce("n_pairs", F.lit(0)).alias("n_pairs")
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return filled.select(
        F.round(F.col("bin") / 10.0, 1).alias("threshold"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("pairs_at_or_above"),
    )


def _incremental_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.incremental import (
        sql_full_recompute,
    )

    return sql_full_recompute("events")


@query("incremental_cube_events", _incremental_oracle())
def incremental_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py): the
    (type x day) cube maintained as MERGEABLE states — history
    pre-aggregated once, a late-arriving batch folded to its own
    partials, cell-wise merge, avg derived at read time. The oracle is
    the definition the incremental path must equal: one full aggregate
    over everything — so the hash match IS the proof that maintenance
    cost O(batch) buys the O(history) answer. States use exact integer
    cents; avg is derived, never stored (merging a stored avg loses the
    weights — the classic wrong answer)."""
    from asctb_ct_label_mapper_spark.operators.incremental import (
        aggregate_state,
        finalize,
        merge_states,
    )

    ev = _t(spark, sf_dir, "events")
    history = ev.filter(F.dayofmonth("ts") < 20)
    late_batch = ev.filter(F.dayofmonth("ts") >= 20)
    cube = merge_states(aggregate_state(history), aggregate_state(late_batch))
    return finalize(cube)


# Side-effect import: registers the remaining TPC-H query shapes
# (q2/q6/q8/q9/q11/q12/q13/q15/q16/q20/q21) into QUERIES/ORACLES. Placed
# after the decorator + helpers are defined so the circular import is safe.
from asctb_ct_label_mapper_spark import queries_tpch  # noqa: E402, F401


def all_queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(ORACLES)


def _kmv_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import sql_kmv_estimate

    return sql_kmv_estimate("events", "user_id", k=64, with_exact=True)


@query("kmv_distinct_users", _kmv_oracle())
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (sketches.kmv_sketch/kmv_estimate): the
    HASH-GREEN mergeable distinct estimator — bottom-64 distinct md5
    values of user_id, estimate = (k-1)*DOMAIN/kth_min, alongside the
    exact distinct so the registry row documents the realized error.
    Unlike the DataSketches HLL rollup (rows-only by necessity), every
    step here is deterministic arithmetic DuckDB replays bit-for-bit.
    Scale shape: one map-side-combinable distinct on an 8-byte hash +
    TakeOrdered heaps; the sketch is 64 rows forever."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    est = kmv_estimate(kmv_sketch(ev, "user_id", k=64), k=64)
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact))


def _holt_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import sql_holt_by_key

    return sql_holt_by_key("events", where="event_type = 'purchase'")


@query("holt_forecast_users", _holt_oracle())
def holt_forecast_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (timeseries.holt_by_key): the
    level+trend recurrence as a 2x2 MATRIX segmented scan — the proof the
    EWMA affine decomposition generalizes to any linear recurrence. Both
    engines run the identical per-(key, month) matrix folds and
    dimension-sized carry composition with dyadic constants, so level,
    trend, and the 3-step forecast hash-match on raw doubles."""
    from asctb_ct_label_mapper_spark.operators.timeseries import holt_by_key

    return holt_by_key(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    )


def _zorder_oracle() -> str:
    from asctb_ct_label_mapper_spark.sources.sinks import sql_zorder_key

    z = sql_zorder_key("(user_id % 65536)", "(event_id % 65536)")
    return f"""
    SELECT user_id, event_id, {z} AS zkey
    FROM events
    ORDER BY zkey DESC, event_id LIMIT 100
    """


@query("zorder_key_events", _zorder_oracle())
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (sinks.zorder_key): bit-interleave
    two quantized dimensions into the single cluster column
    write_clustered sorts by, so row-group min/max become tight on BOTH
    source columns and box/either-column predicates prune (footer-proven
    in tests/test_sources.py). Pure shift/mask/or chain — whole-stage
    codegen, and the oracle replays the identical bit arithmetic."""
    from asctb_ct_label_mapper_spark.sources.sinks import zorder_key

    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            "event_id",
            zorder_key(
                F.col("user_id") % 65536, F.col("event_id") % 65536
            ).alias("zkey"),
        )
        .orderBy(F.desc("zkey"), F.asc("event_id"))
        .limit(100)
    )


def _skew_report_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.skew import sql_key_skew_report

    return sql_key_skew_report("events", "event_type", top_n=5)


@query("skew_report_events", _skew_report_oracle())
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (skew.key_skew_report): top keys with share
    and cumulative share plus global key count — the measurement that
    decides between plain hash join, AQE skew split, and salted_join.
    One combinable groupBy + a one-row broadcast + a top_n-row window."""
    from asctb_ct_label_mapper_spark.operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), "event_type", top_n=5)


def _neg_samples_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_negative_samples,
    )

    return sql_negative_samples("documents", "doc_id", n_neg=3)


@query("negative_samples_docs", _neg_samples_oracle())
def negative_samples_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling
    (curation.negative_samples): 3 uniform non-self partners per document
    via dense two-phase rank + md5 cyclic shift — reproducible across
    runs, engines, and partitionings (no rand()); the oracle replays the
    identical arithmetic."""
    from asctb_ct_label_mapper_spark.operators.curation import negative_samples

    return negative_samples(_t(spark, sf_dir, "documents"), "doc_id", n_neg=3)


def _sample_quantiles_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_sample_quantiles,
    )

    return sql_sample_quantiles("events", "event_id", "value", k=512)


@query("sample_quantiles_value", _sample_quantiles_oracle())
def sample_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile sketch
    (profile.priority_sample + sample_quantiles): bottom-512 rows by
    md5(id) priority — exactly mergeable across shards like the KMV
    sketch — then identical-arithmetic linear interpolation on both
    engines. The deterministic sibling of approxQuantile (whose GK
    sketch is merge-order-dependent and engine-private)."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        priority_sample,
        sample_quantiles,
    )

    ev = _t(spark, sf_dir, "events")
    return sample_quantiles(priority_sample(ev, "event_id", "value", k=512))


@query(
    "j_asof_tolerance",
    """
    WITH m AS (
        SELECT user_id, ts, max(value) AS marker_value
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, ts
    ), matched AS (
        SELECT e.event_id, e.user_id, e.ts, m.ts AS ts_asof,
            m.marker_value,
            row_number() OVER (PARTITION BY e.event_id
                               ORDER BY m.ts DESC) AS rn
        FROM (SELECT event_id, user_id, ts FROM events) e
        LEFT JOIN m ON e.user_id = m.user_id
            AND m.ts <= e.ts
            AND m.ts >= e.ts - INTERVAL 1 HOUR
    )
    SELECT event_id, user_id, ts, ts_asof, marker_value
    FROM matched WHERE rn = 1
    """,
)
def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (asof.asof_join
    tolerance_seconds — pandas merge_asof semantics): the most recent
    prior error marker, but only if it is <= 1 hour old; older matches
    null out. Same one-union-one-window plan; the oracle states the
    semantics directly as a bounded range join + latest-pick."""
    from asctb_ct_label_mapper_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    markers = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("marker_value"))
    )
    return asof_join(
        events.select("event_id", "user_id", "ts"),
        markers,
        key_cols=["user_id"],
        right_value_cols=["marker_value"],
        tolerance_seconds=3600,
    )


def _sql_surface_oracle() -> str:
    from asctb_ct_label_mapper_spark.sql_surface import (
        SHARED_SQL_NATION_REVENUE,
    )

    return SHARED_SQL_NATION_REVENUE


@query("sql_api_nation_revenue", _sql_surface_oracle())
def sql_api_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql surface (sql_surface.run_sql): the IDENTICAL SQL
    string is submitted to Spark SQL (over lazy temp views — Catalyst
    pushdown/pruning/AQE apply exactly as in the DataFrame flavors) and
    to DuckDB as the oracle — dialect-shared text, the strongest parity
    statement the registry can make."""
    from asctb_ct_label_mapper_spark.sql_surface import (
        SHARED_SQL_NATION_REVENUE,
        run_sql,
    )

    return run_sql(spark, sf_dir, SHARED_SQL_NATION_REVENUE)


def _kmv_docs_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import sql_kmv_estimate

    return sql_kmv_estimate("documents", "text", k=256)


@query("kmv_distinct_docs", _kmv_docs_oracle())
def kmv_distinct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-document estimate over the text column (the corpus
    cardinality probe a dedup pipeline runs first): sketch state is 256
    rows at every corpus size — the docs-scale-tier entry proving the
    flat-growth contract empirically (bench docs10x/100x)."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    return kmv_estimate(
        kmv_sketch(_t(spark, sf_dir, "documents"), "text", k=256), k=256
    )


def _kmv_daily_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import (
        sql_kmv_estimate_by,
    )

    return sql_kmv_estimate_by(
        "events", "strftime(CAST(ts AS DATE), '%Y-%m-%d')", "day", "user_id",
        k=32,
    )


@query("kmv_daily_users", _kmv_daily_oracle())
def kmv_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct-user estimates via per-group KMV
    (sketches.kmv_sketch_by/kmv_estimate_by) — the hash-green mergeable
    counterpart of the HLL daily rollup: k=32 rows of state per day,
    group-partitioned rank (parallel across days), estimator arithmetic
    replayed exactly by the oracle.

    The prefilter's cardinality gate reads a 2% ROW sample instead of
    re-scanning the full events frame (the vocab_growth_sketch sampled-
    gate seam, r12 verdict #5 — shared code path, no second gate
    implementation): sampled per-day distincts underestimate, so the
    keep-threshold only grows and the kept>=k guard still proves the
    bottom-k exact; the result is gate-independent."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        kmv_estimate_by,
        kmv_sketch_by,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "user_id"
    )
    return kmv_estimate_by(
        kmv_sketch_by(
            ev, ["day"], "user_id", k=32,
            gate_df=ev.sample(fraction=0.02, seed=7), gate_scale=50.0,
        ),
        ["day"],
        k=32,
    )


def _hist_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_equi_width_histogram,
    )

    return sql_equi_width_histogram("events", "value", lo=0.0, hi=100.0, n_bins=20)


@query("histogram_event_values", _hist_oracle())
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with explicit under/overflow buckets
    (profile.equi_width_histogram): one combinable aggregate, bin edges
    derived from the bucket index, identical double arithmetic on both
    engines so boundary values bucket the same way."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        equi_width_histogram,
    )

    return equi_width_histogram(
        _t(spark, sf_dir, "events"), "value", lo=0.0, hi=100.0, n_bins=20
    )


def _hw_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_holt_winters_by_key,
    )

    return sql_holt_winters_by_key("events", where="event_type = 'purchase'")


@query("holt_winters_users", _hw_oracle())
def holt_winters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive SEASONAL smoothing
    (timeseries.holt_winters_by_key): the (period+2)-dimensional state
    [level, trend, 4 seasonal slots] as a matrix segmented scan.
    Default impl is the FUSED-ARROW fold (one exchange; numpy compose
    vectorized across chains, bit-identical to the interpreted-HOF
    parity anchor — equality hash-proven by
    test_holt_winters_arrow_equals_hof); the oracle SQL is generated
    from the same index loops as the HOF anchor, so raw doubles
    hash-match across engine -> HOF -> DuckDB."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    return holt_winters_by_key(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    )


def _hw_classical_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_holt_winters_classical_by_key,
    )

    return sql_holt_winters_classical_by_key(
        "events", where="event_type = 'purchase'"
    )


@query("holt_winters_classical_users", _hw_classical_oracle())
def holt_winters_classical_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters with CLASSICAL p-observation seasonal priming
    (timeseries.holt_winters_by_key seed='classical'): the key's first
    p observations fold into the textbook seed (l0 = mean, b0 =
    (x_p - x_1)/(p-1), s_i = x_i - l0), injected as the absorbing
    element of the same fused-Arrow segmented fold; keys with fewer
    than p observations return NULL smoothed fields. Raw doubles
    hash-match the generated DuckDB replay."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        holt_winters_by_key,
    )

    return holt_winters_by_key(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase"),
        seed="classical",
    )


def _psi_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import sql_psi_drift

    return sql_psi_drift(
        "events",
        "value",
        base_where="event_type = 'view'",
        new_where="event_type = 'purchase'",
        lo=0.0,
        hi=100.0,
        n_bins=10,
    )


@query("psi_drift_events", _psi_oracle())
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (profile.psi_drift): distribution
    drift between two snapshots via the shared equi-width binning —
    two combinable histogram folds, a bins-sized full-outer join, and
    epsilon-floored shares; the ML-ops gate in front of reusing a
    model or curation threshold on drifted data."""
    from asctb_ct_label_mapper_spark.operators.profile import psi_drift

    ev = _t(spark, sf_dir, "events")
    return psi_drift(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        lo=0.0,
        hi=100.0,
        n_bins=10,
    )


def _assoc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_categorical_association,
    )

    return sql_categorical_association(
        "(SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow"
        " FROM events) t",
        "event_type",
        "dow",
    )


@query("assoc_type_dow_events", _assoc_oracle())
def assoc_type_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association (profile.categorical_association): mutual
    information + chi-square between event type and day-of-week — the
    feature-redundancy/leakage probe. One combinable contingency
    aggregate; marginals re-derive from the cells (pooled), never a
    second table scan."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        categorical_association,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.dayofweek(F.to_date("ts")).alias("dow")
    )
    return categorical_association(ev, "event_type", "dow")


def _kfold_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import sql_kfold_assign

    return (
        "SELECT fold, count(*) AS n_docs FROM ("
        + sql_kfold_assign("documents", "doc_id", k=5)
        + ") GROUP BY fold"
    )


@query("kfold_counts_docs", _kfold_oracle())
def kfold_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (curation.kfold_assign): md5 mod
    k per id — engine/partitioning-independent CV folds; the registry
    row checks per-fold counts end to end."""
    from asctb_ct_label_mapper_spark.operators.curation import kfold_assign

    return (
        kfold_assign(_t(spark, sf_dir, "documents"), "doc_id", k=5)
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "j_asof_forward",
    """
    WITH m AS (
        SELECT user_id, ts, max(value) AS marker_value
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, ts
    ), matched AS (
        SELECT e.event_id, e.user_id, e.ts, m.ts AS ts_asof,
            m.marker_value,
            row_number() OVER (PARTITION BY e.event_id
                               ORDER BY m.ts ASC) AS rn
        FROM (SELECT event_id, user_id, ts FROM events) e
        LEFT JOIN m ON e.user_id = m.user_id AND m.ts >= e.ts
    )
    SELECT event_id, user_id, ts, ts_asof, marker_value
    FROM matched WHERE rn = 1
    """,
)
def j_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (asof.asof_join direction='forward'): every
    event matched to the user's EARLIEST error marker at or after it —
    backward-as-of run on negated microsecond time, so both directions
    share one union+window code path. Oracle states the semantics as a
    bounded-below join + earliest-pick."""
    from asctb_ct_label_mapper_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    markers = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("marker_value"))
    )
    return asof_join(
        events.select("event_id", "user_id", "ts"),
        markers,
        key_cols=["user_id"],
        right_value_cols=["marker_value"],
        direction="forward",
    )


# --- round 9: behavioral analytics / interval overlap / stratified sample ---


def _funnel_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_funnel_steps,
    )

    return sql_funnel_steps("events", ("signup", "view", "purchase"))


@query("funnel_signup_purchase", _funnel_oracle())
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel signup -> view -> purchase (behavior.funnel_steps):
    K chained min-after aggregates + equi-joins, no per-user sort or
    window — each step's frame shrinks to the users that reached it.
    One plan (pooled persists), counts unioned with the conversion rate
    derived in-plan."""
    from asctb_ct_label_mapper_spark.operators.behavior import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"), ["signup", "view", "purchase"]
    )


def _retention_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_retention_cohorts,
    )

    return sql_retention_cohorts("events", granularity="day")


@query("retention_daily_cohorts", _retention_oracle())
def retention_daily_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix by daily cohort (behavior.retention_cohorts):
    first-activity aggregate + distinct (user, day) + one equi-join on
    user; output is calendar x calendar sized. Offsets via exact
    day arithmetic on truncated periods, identical on both engines."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        retention_cohorts,
    )

    return retention_cohorts(_t(spark, sf_dir, "events"), granularity="day")


def _scd2_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_scd2_history,
    )

    return sql_scd2_history("events")


@query("scd2_user_status", _scd2_oracle())
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 attribute history (behavior.scd2_history): one versioned row
    per consecutive run of equal event_type per user, with
    [valid_from, valid_to) validity and is_current on the open run —
    lag marks change points, then lead/row_number run over the CHANGE
    ROWS only. Deterministic under the (ts, id)-unique contract."""
    from asctb_ct_label_mapper_spark.operators.behavior import scd2_history

    return scd2_history(_t(spark, sf_dir, "events"))


@query(
    "j_interval_overlap",
    """
    WITH e AS (
        SELECT user_id, event_id AS err_id, ts AS e_start,
               ts + INTERVAL 1 HOUR AS e_end
        FROM events WHERE event_type = 'error'
    ), p AS (
        SELECT user_id, event_id AS pur_id, ts AS p_start,
               ts + INTERVAL 1 HOUR AS p_end
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.user_id, err_id, e_start, e_end, pur_id, p_start, p_end
    FROM e JOIN p ON e.user_id = p.user_id
        AND e_start <= p_end AND p_start <= e_end
    """,
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-x-interval OVERLAP join (rangejoin.interval_overlap_join):
    per-user 1-hour error windows against 1-hour purchase windows. Both
    sides explode to covered time buckets and meet in a hash EQUI-join;
    each pair is kept only in its canonical first shared bucket (the
    later interval's start bucket), so there is no post-join dedup and
    never a theta/nested-loop plan. Oracle is DuckDB's native
    inequality join."""
    from asctb_ct_label_mapper_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    events = _t(spark, sf_dir, "events")
    hour = F.expr("INTERVAL 1 HOUR")
    errs = events.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("e_start"),
        (F.col("ts") + hour).alias("e_end"),
    )
    purs = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pur_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + hour).alias("p_end"),
    )
    return interval_overlap_join(
        errs, purs, ["user_id"], "e_start", "e_end", "p_start", "p_end",
        bucket="1 hour",
    )


def _strat_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_stratified_topk_sample,
    )

    return sql_stratified_topk_sample("events")


@query("stratified_sample_events", _strat_oracle())
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified top-k sample (curation.stratified_topk_sample): the
    20 smallest-md5-priority events per event_type — membership is a
    pure function of (stratum, id), exactly mergeable per stratum, one
    narrow hash + a stratum-partitioned rank window (parallel across
    strata, no global sort)."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        stratified_topk_sample,
    )

    return stratified_topk_sample(
        _t(spark, sf_dir, "events"), "event_type", 20, "event_id"
    )


def _cusum_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_cusum_by_key,
    )

    return sql_cusum_by_key(
        "events", drift=55.0, threshold=100.0,
        where="event_type = 'purchase'",
    )


@query("cusum_purchase_values", _cusum_oracle())
def cusum_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-shift detector per user (timeseries.cusum_by_key):
    s_t = max(0, s_{t-1} + (x_t - drift)) plus its running max and an
    alarm flag. The recurrence is affine in the (max, +) semiring, so
    the same two-phase segmented scan as EWMA/Holt applies with a
    closed 4-parameter map — max/+ are exact, raw doubles hash-match
    the list-accumulator DuckDB fold bit-for-bit."""
    from asctb_ct_label_mapper_spark.operators.timeseries import cusum_by_key

    return cusum_by_key(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase"),
        drift=55.0,
        threshold=100.0,
    )


def _kmv_setops_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import (
        sql_kmv_set_ops,
    )

    item = (
        "concat_ws('#', user_id, "
        "CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))"
    )
    return sql_kmv_set_ops(
        "events",
        item,
        where_a="event_type = 'view'",
        where_b="event_type = 'purchase'",
    )


@query("kmv_setops_user_days", _kmv_setops_oracle())
def kmv_setops_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates (sketches.kmv_set_ops): Jaccard /
    union / intersection of the view-activity vs purchase-activity
    (user, day) sets, computed ONLY from the two k-row sketches (the
    union sketch's kth min bounds both sides' kth mins, so membership
    against the sketch tables is exact). Everything past the sketch
    builds is k-row-sized and broadcastable."""
    from asctb_ct_label_mapper_spark.operators.sketches import kmv_set_ops

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.concat_ws(
            "#",
            F.col("user_id"),
            F.date_trunc("day", F.col("ts")).cast("date").cast("string"),
        ).alias("item"),
    )
    return kmv_set_ops(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "item",
    )


def _zipf_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import sql_zipf_fit

    return sql_zipf_fit("documents")


@query("zipf_fit_docs", _zipf_oracle())
def zipf_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope/intercept over the corpus frequency spectrum
    (textstats.zipf_fit): token count + deterministic top-n cut + a
    closed-form least-squares over the parameter-sized rank frame —
    the corpus-health gate next to the Heaps-law vocabulary curve."""
    from asctb_ct_label_mapper_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


def _cm_join_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import (
        sql_cm_join_size_estimate,
    )

    return sql_cm_join_size_estimate(
        "events",
        "user_id",
        where_a="event_type = 'view'",
        where_b="event_type = 'purchase'",
        with_exact=True,
    )


@query("cm_join_size_views_purchases", _cm_join_oracle())
def cm_join_size_views_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimate from count-min sketches
    (sketches.cm_join_size_estimate): min over sketch rows of the
    counter inner product one-sidedly over-estimates
    |views JOIN purchases ON user_id| — the streaming join-size
    estimator a planner consults; the exact size rides along to
    document the error envelope."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        cm_join_size_estimate,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("item")
    )
    return cm_join_size_estimate(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "item",
        with_exact=True,
    )


def _kanon_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_k_anonymity_report,
    )

    return sql_k_anonymity_report(
        "documents", ["lang", "source", "n_chars"], k=5
    )


@query("k_anonymity_docs", _kanon_oracle())
def k_anonymity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (profile.k_anonymity_report) over the
    (lang, source, n_chars) quasi-identifier combination: group-size
    fold + one aggregate; reports violating groups, rows at risk, and
    the k-anonymous verdict — the pre-release privacy gate."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        k_anonymity_report,
    )

    return k_anonymity_report(
        _t(spark, sf_dir, "documents"), ["lang", "source", "n_chars"], k=5
    )


def _cooc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.linkage import (
        sql_co_occurrence_pairs,
    )

    return sql_co_occurrence_pairs(
        "events",
        "date_trunc('hour', ts)",
        "user_id",
        max_group_degree=50,
        min_shared=2,
        where="event_type = 'error'",
    )


@query("cooccur_error_users", _cooc_oracle())
def cooccur_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User co-occurrence graph (linkage.co_occurrence_pairs): pairs of
    users with errors in the same hour, counted across hours — one
    hour-keyed collect of the distinct user set, in-row codegen HOF
    pairing (a1 < a2, no join), one pair count (two Exchanges), with
    the documented frequent-group prune (degree cap 50) bounding the
    per-group quadratic term. Never an actors^2 cross join."""
    from asctb_ct_label_mapper_spark.operators.linkage import (
        co_occurrence_pairs,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return co_occurrence_pairs(
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
        ),
        "hour",
        "user_id",
        max_group_degree=50,
        min_shared=2,
    )


def _benford_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_benford_audit,
    )

    return sql_benford_audit(
        "events", "CAST(round(value * 100) AS BIGINT)"
    )


@query("benford_event_values", _benford_oracle())
def benford_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (profile.benford_audit) over the event
    values scaled to integer cents: <= 9-group digit fold + a one-row
    chi-square vs the Benford shares — the forensic DQ gate. The digit
    comes from exact integer rendering (no float log10 boundary hazards
    between engines)."""
    from asctb_ct_label_mapper_spark.operators.profile import benford_audit

    return benford_audit(
        _t(spark, sf_dir, "events"),
        F.round(F.col("value") * 100).cast("bigint"),
    )


def _twa_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_time_weighted_avg,
    )

    return sql_time_weighted_avg("events", where="event_type = 'purchase'")


@query("twa_purchase_values", _twa_oracle())
def twa_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (timeseries.time_weighted_avg,
    TimescaleDB time_weight semantics): LOCF durations from one per-key
    lead window + a combinable weighted-sum aggregate; single-event
    keys return NULL (no duration)."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        time_weighted_avg,
    )

    return time_weighted_avg(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    )


def _m4_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_m4_downsample,
    )

    return sql_m4_downsample("events", n_buckets=100)


@query("m4_downsample_events", _m4_oracle())
def m4_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (timeseries.m4_downsample, VLDB'14):
    first/last/min/max per equal-width time bucket — output 4 x
    n_buckets rows at ANY input size; the extent probe is an in-plan
    broadcast, the picks one combinable struct-min/max aggregate with
    deterministic tie-breaks the oracle replays as rn=1 windows."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        m4_downsample,
    )

    return m4_downsample(_t(spark, sf_dir, "events"), n_buckets=100)


def _paths_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_event_path_ngrams,
    )

    return sql_event_path_ngrams("events", n=3)


@query("event_path_trigrams", _paths_oracle())
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path trigram counts (behavior.event_path_ngrams): per-user
    consecutive event-type 3-grams pooled across users — sequence
    mining's first question; two lead windows + one combinable count,
    truncated tails excluded."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        event_path_ngrams,
    )

    return event_path_ngrams(_t(spark, sf_dir, "events"), n=3)


def _sdecomp_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_seasonal_decompose_daily,
    )

    return sql_seasonal_decompose_daily("events")


@query("seasonal_decompose_events", _sdecomp_oracle())
def seasonal_decompose_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count series
    (timeseries.seasonal_decompose_daily): centered moving-average
    trend + day-of-week seasonal + remainder — calendar-sized past the
    first fold; the one ordered window runs over the day series."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    return seasonal_decompose_daily(_t(spark, sf_dir, "events"))


def _wmedian_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_weighted_median_by_group,
    )

    return sql_weighted_median_by_group(
        "documents", "lang", "n_chars", "n_chars", "doc_id"
    )


@query("weighted_median_doclen", _wmedian_oracle())
def weighted_median_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-weighted median document length per language
    (timeseries.weighted_median_by_group, weight = n_chars): the length
    a randomly chosen CHARACTER sits in — the size statistic that
    matters for token budgets, where the plain median over-counts tiny
    documents. One cumulative-weight window per group + first-hit
    pick."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        weighted_median_by_group,
    )

    return weighted_median_by_group(
        _t(spark, sf_dir, "documents"), "lang", "n_chars", "n_chars", "doc_id"
    )


def _funnel7_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_funnel_steps,
    )

    return sql_funnel_steps(
        "events", ("signup", "view", "purchase"), within="7 days"
    )


@query("funnel_signup_purchase_7d", _funnel7_oracle())
def funnel_signup_purchase_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion-window funnel flavor (behavior.funnel_steps
    within='7 days'): each step must land inside 7 days of the previous
    step's reach time — same chained min-after plan, one extra
    band predicate per join."""
    from asctb_ct_label_mapper_spark.operators.behavior import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        ["signup", "view", "purchase"],
        within="7 days",
    )


def _debounce_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dedup import (
        sql_dedup_debounce,
    )

    return sql_dedup_debounce(
        "events", delay="1 hour", where="event_type = 'click'"
    )


@query("dedup_debounce_clicks", _debounce_oracle())
def dedup_debounce_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch debounce dedup (dedup.dedup_debounce): a user's click is
    suppressed when their previous click is within 1 hour — the retry-
    storm/double-click gate; one lag window per key + an interval
    predicate. The previous-OCCURRENCE rule (the sequential
    previous-KEPT rule is the stream op's job; difference documented)."""
    from asctb_ct_label_mapper_spark.operators.dedup import dedup_debounce

    return dedup_debounce(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "click"),
        delay="1 hour",
    )


def _pareto_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_pareto_coverage,
    )

    return sql_pareto_coverage(
        "documents", "source", "len(string_split(text, ' '))"
    )


@query("pareto_sources_tokens", _pareto_oracle())
def pareto_sources_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC coverage of token mass by source
    (curation.pareto_coverage): which sources carry 80% of the corpus —
    one combinable weight fold, then a single window over the
    source-sized frame."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        pareto_coverage,
    )

    return pareto_coverage(
        _t(spark, sf_dir, "documents"),
        "source",
        F.size(F.split(F.col("text"), " ")),
    )


@query(
    "e_sessionize_native",
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts)
                 >= 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM events
    ), ids AS (
        SELECT user_id, ts, value,
            sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*) AS n_events,
        round(sum(value), 4) AS sum_value
    FROM ids GROUP BY user_id, session_id
    """,
)
def e_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregate run in BATCH mode
    (streaming/events.sessionize streaming=True on a finite frame —
    withWatermark is a no-op there): the engine-API flavor of
    e_sessionize, sharing its gap-and-islands oracle, so the native
    session assignment is itself driver-gate-verified against ANSI SQL
    rather than only against the manual formulation."""
    from asctb_ct_label_mapper_spark.streaming.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), "30 minutes", streaming=True)


# =============================================================================
# r10: statistics / ML-lite family (operators/stats.py)
# =============================================================================


def _ols_trend_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_ols_trend_by_key,
    )

    return sql_ols_trend_by_key(
        "events", where="event_type = 'purchase'"
    )


@query("ols_trend_users", _ols_trend_oracle())
def ols_trend_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS purchase-value trend (stats.ols_trend_by_key):
    closed-form slope/intercept/r2 from six map-side-combinable
    sufficient statistics — one grouped aggregate, one shuffle row per
    user, no per-key sort; degenerate variances NULL via nullif."""
    from asctb_ct_label_mapper_spark.operators.stats import ols_trend_by_key

    return ols_trend_by_key(
        _t(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        )
    )


def _autocorr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_autocorr_daily_counts,
    )

    return sql_autocorr_daily_counts("events", max_lag=3)


@query("autocorr_daily_events", _autocorr_oracle())
def autocorr_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count autocorrelation at lags 1-3
    (stats.autocorr_daily_counts): calendar-spined integer series
    (zero days are observations), exact integer sufficient statistics,
    one division per lag — the seasonality probe next to
    seasonal_decompose_events."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        autocorr_daily_counts,
    )

    return autocorr_daily_counts(_t(spark, sf_dir, "events"), max_lag=3)


def _entropy_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_entropy_by_key

    return sql_entropy_by_key("events")


@query("entropy_user_event_types", _entropy_oracle())
def entropy_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy over event types (stats.entropy_by_key)
    — behavioral diversity. Two integer aggregates; the p*log2(p) fold
    runs in ascending-category order on BOTH engines (array_sort +
    aggregate HOF vs list(... ORDER BY) + seeded list_reduce) so the
    float addition order is pinned."""
    from asctb_ct_label_mapper_spark.operators.stats import entropy_by_key

    return entropy_by_key(_t(spark, sf_dir, "events"))


def _gini_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_gini_concentration,
    )

    return sql_gini_concentration(
        "events", where="event_type = 'purchase'"
    )


@query("gini_purchase_users", _gini_oracle())
def gini_purchase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase totals
    (stats.gini_concentration) — the contribution-inequality audit.
    Rank runs over the user-grain totals table (one row per user), not
    the raw stream; binned estimator documented as the 10^8+-key path."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        gini_concentration,
    )

    return gini_concentration(
        _t(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        )
    )


def _mad_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_mad_outliers_by_group,
    )

    return sql_mad_outliers_by_group("events")


@query("mad_outliers_values", _mad_oracle())
def mad_outliers_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier audit (stats.mad_outliers_by_group):
    median/MAD over cents-quantized values (interpolation between exact
    integers — engine-stable), count outside median±3·1.4826·MAD."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        mad_outliers_by_group,
    )

    return mad_outliers_by_group(_t(spark, sf_dir, "events"))


def _bollinger_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_bollinger_bands_daily,
    )

    return sql_bollinger_bands_daily("events")


@query("bollinger_daily_events", _bollinger_oracle())
def bollinger_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-rate volatility bands (stats.bollinger_bands_daily):
    trailing 7-day mean ± 2σ on the calendar-spined daily counts with a
    breakout flag; variance from exact integer sums (HUGEINT window
    sums CAST BIGINT in the oracle — the documented trap), partial
    windows emit NULL bands."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        bollinger_bands_daily,
    )

    return bollinger_bands_daily(_t(spark, sf_dir, "events"))


def _theilsen_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_theilsen_daily_trend,
    )

    return sql_theilsen_daily_trend("events")


@query("theilsen_daily_trend", _theilsen_oracle())
def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of the daily event-count series
    (stats.theilsen_daily_trend): median of pairwise slopes over the
    calendar-sized daily table (n(n-1)/2 pairs of a ~30-row frame) —
    outlier-immune counterpart of the OLS trend."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        theilsen_daily_trend as _ts_op,
    )

    return _ts_op(_t(spark, sf_dir, "events"))


def _rolling_median_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_rolling_median_by_key,
    )

    return sql_rolling_median_by_key(
        "events", where="event_type = 'purchase'"
    )


@query("rolling_median_purchases", _rolling_median_oracle())
def rolling_median_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 5-row EXACT rolling median of purchase values
    (stats.rolling_median_by_key) — the robust smoother; cents
    quantization keeps the interpolated median engine-stable, one
    key-partitioned bounded-frame window."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        rolling_median_by_key,
    )

    return rolling_median_by_key(
        _t(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        )
    )


def _markov_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_markov_transitions,
    )

    return sql_markov_transitions("events")


@query("markov_event_transitions", _markov_oracle())
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-stochastic event-type transition matrix
    (behavior.markov_transitions): one lead window per user, one pooled
    count, per-from normalization on the |types|^2-row table."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_transitions,
    )

    return markov_transitions(_t(spark, sf_dir, "events"))


def _rfm_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_rfm_segments,
    )

    return sql_rfm_segments("events")


@query("rfm_user_segments", _rfm_oracle())
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of purchasing users
    (behavior.rfm_segments): key-grain metrics, tie-broken ntiles
    (the standing total-order bucket contract), <=64-row segment
    counts."""
    from asctb_ct_label_mapper_spark.operators.behavior import rfm_segments

    return rfm_segments(_t(spark, sf_dir, "events"))


def _activity_gaps_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_activity_gaps_by_key,
    )

    return sql_activity_gaps_by_key("events")


@query("activity_gaps_users", _activity_gaps_oracle())
def activity_gaps_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage audit (behavior.activity_gaps_by_key):
    span vs distinct active days vs missing days — one distinct-day
    aggregate, no windows or joins."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        activity_gaps_by_key,
    )

    return activity_gaps_by_key(_t(spark, sf_dir, "events"))


def _km_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_kaplan_meier_survival,
    )

    return sql_kaplan_meier_survival("events")


@query("kaplan_meier_retention", _km_oracle())
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier signup->purchase conversion curve
    (stats.kaplan_meier_survival): first purchase on/after first
    signup, never-converting users censored at corpus end; duration-
    grain risk sets via suffix-sum windows, survival as exp of the
    ordered ln-sum — the float product order pinned on both engines.
    (Pure user-lifetime churn is vacuous on this corpus: every
    synthetic user is active to the final day.)"""
    from asctb_ct_label_mapper_spark.operators.stats import (
        kaplan_meier_survival,
    )

    return kaplan_meier_survival(_t(spark, sf_dir, "events"))


def _jaccard_types_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_jaccard_category_overlap,
    )

    return sql_jaccard_category_overlap("events")


@query("jaccard_event_types", _jaccard_types_oracle())
def jaccard_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix (stats.jaccard_category_overlap):
    pairwise Jaccard between event types over their user sets, joined
    on the (user, type)-distinct table — fan-out bounded by the type
    vocabulary."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        jaccard_category_overlap,
    )

    return jaccard_category_overlap(_t(spark, sf_dir, "events"))


def _pmi_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_pmi_collocations,
    )

    return sql_pmi_collocations("documents", min_count=5)


@query("pmi_collocations_docs", _pmi_oracle())
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (textstats.pmi_collocations): adjacent
    word pairs scored log2(p(xy)/(p(x)p(y))) — both count tables are
    vocabulary-sized so the scoring joins broadcast at any corpus
    scale; pairs under min_count=5 drop."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        pmi_collocations,
    )

    return pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5)


def _woe_iv_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_woe_iv_binning,
    )

    return sql_woe_iv_binning(
        "documents", "n_chars", "lang = 'en'", "doc_id"
    )


@query("woe_iv_doclen", _woe_iv_oracle())
def woe_iv_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value audit of document length
    against the lang='en' target (profile.woe_iv_binning): tie-broken
    decile bins, NULL WOE on degenerate bins (stated, not smoothed),
    IV attached in-plan."""
    from asctb_ct_label_mapper_spark.operators.profile import woe_iv_binning

    docs = _t(spark, sf_dir, "documents")
    return woe_iv_binning(
        docs, "n_chars", F.col("lang") == "en", "doc_id"
    )


@query("woe_iv_doclen_bucketed", _woe_iv_oracle())
def woe_iv_doclen_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale flavor of woe_iv_doclen (impl='bucketed'): bins from
    the two-phase bucketed global rank (approxQuantile range buckets +
    per-bucket row_number + broadcast offsets) and exact integer ntile
    arithmetic — NO single-partition window anywhere, yet bit-identical
    bins, checked against the SAME ntile oracle."""
    from asctb_ct_label_mapper_spark.operators.profile import woe_iv_binning

    docs = _t(spark, sf_dir, "documents")
    return woe_iv_binning(
        docs, "n_chars", F.col("lang") == "en", "doc_id", impl="bucketed"
    )


def _fuzzy_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dedup import (
        sql_fuzzy_name_matches,
    )

    return sql_fuzzy_name_matches("part", "p_name", max_dist=2)


@query("fuzzy_part_names", _fuzzy_oracle())
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching over part names
    (dedup.fuzzy_name_matches): distinct-first name vocabulary, last-
    word blocking, Levenshtein <= 2 verification — record linkage
    without the all-pairs cross join."""
    from asctb_ct_label_mapper_spark.operators.dedup import (
        fuzzy_name_matches,
    )

    return fuzzy_name_matches(
        _t(spark, sf_dir, "part"), "p_name", max_dist=2
    )


# =============================================================================
# Graph analytics (r10): co-purchase graph + nation trade PageRank
# =============================================================================


def _degree_hist_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_copurchase_edges,
        sql_degree_distribution,
    )

    return f"WITH {sql_copurchase_edges()}, {sql_degree_distribution()}"


@query("copurchase_degree_hist", _degree_hist_oracle())
def copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the part co-purchase graph
    (graph.copurchase_edges -> degree_distribution): the ONE fact pass
    is the order-key self-join pair aggregate (min_count=2 prunes the
    one-off tail); both degree aggregates run on the edge list."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        copurchase_edges,
        degree_distribution,
    )

    return degree_distribution(
        copurchase_edges(_t(spark, sf_dir, "lineitem"))
    )


def _triangles_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_copurchase_edges,
        sql_triangle_count,
    )

    return f"WITH {sql_copurchase_edges()}, {sql_triangle_count()}"


@query("copurchase_triangles", _triangles_oracle())
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (graph.triangle_count):
    oriented a<b<c two-hop join on the aggregated edge list, wedge
    count from undirected degrees, global clustering 3T/W."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        copurchase_edges,
        triangle_count,
    )

    return triangle_count(copurchase_edges(_t(spark, sf_dir, "lineitem")))


def _pagerank_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_nation_trade_edges,
        sql_pagerank,
    )

    return f"WITH {sql_nation_trade_edges()}, {sql_pagerank(25)}"


@query("pagerank_nation_trade", _pagerank_oracle())
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade digraph (graph.pagerank):
    the q7 join tree rolls 100 TB of lineitem up to a <=25-node /
    <=625-edge graph in one pass; 10 damped iterations then fold on
    the driver over the collected edge list (oracle: the same
    recurrence unrolled into chained CTEs)."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        nation_trade_edges,
        pagerank,
    )

    edges = nation_trade_edges(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )
    return pagerank(edges, 25, iters=10)


# =============================================================================
# Experimentation analytics (r10): SRM gate, Welch t, CUPED
# =============================================================================


def _srm_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_srm_check,
    )

    return sql_srm_check("events")


@query("srm_check_users", _srm_oracle())
def srm_check_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate (experiment.srm_check): distinct
    users per user_id%2 arm vs the 50/50 expectation as a 1-dof
    chi-square — one distinct-user aggregate, then 1-row arithmetic."""
    from asctb_ct_label_mapper_spark.operators.experiment import srm_check

    return srm_check(_t(spark, sf_dir, "events"))


def _welch_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_ab_welch_ttest,
    )

    return sql_ab_welch_ttest("events")


@query("ab_welch_purchase", _welch_oracle())
def ab_welch_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t-test on per-user purchase value by user_id%2 arm
    (experiment.ab_welch_ttest): one user-grain aggregate (zero for
    non-converters — randomized units stay in the denominator), then
    the 1-row Welch arithmetic with try_divide guards."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        ab_welch_ttest,
    )

    return ab_welch_ttest(_t(spark, sf_dir, "events"))


def _cuped_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_cuped_adjustment,
    )

    return sql_cuped_adjustment("events", "2024-01-16")


@query("cuped_purchase_value", _cuped_oracle())
def cuped_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (experiment.cuped_adjustment): Jan 1-15
    purchase value as the pre-period covariate for the Jan 16+ metric;
    pooled theta from one 1-row covariance aggregate, per-arm post vs
    adjusted means and variances."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        cuped_adjustment,
    )

    return cuped_adjustment(_t(spark, sf_dir, "events"), "2024-01-16")


def _assoc_rules_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_association_rules,
    )

    return sql_association_rules(min_count=3, min_confidence=0.05)


@query("assoc_rules_parts", _assoc_rules_oracle())
def assoc_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets
    (graph.association_rules): support >= 3, confidence >= 0.05;
    one persisted distinct pass feeds item counts, the basket total,
    and the HOF pair census; rules close over both directions with
    broadcast dimension joins."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        association_rules,
    )

    return association_rules(
        _t(spark, sf_dir, "lineitem"), min_count=3, min_confidence=0.05
    )


def _graph_family_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_graph_family_report,
    )

    return sql_graph_family_report(min_count=2, rule_min_confidence=0.25)


@query("graph_family_report", _graph_family_oracle())
def graph_family_report_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every graph-family readout from ONE shared pair census
    (graph.graph_family_report — the r10 shared-census seam): degree
    histogram + node/edge/wedge/triangle counts + the rule count at
    confidence >= 0.25, all fed by one persisted group_memberships
    aggregate and one persisted edge list. Standalone, the three graph
    queries pay the census once each; composed here the family costs
    one census plus edge-grain probes."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        graph_family_report,
    )

    return graph_family_report(
        _t(spark, sf_dir, "lineitem"), min_count=2,
        rule_min_confidence=0.25,
    )


def _mix_temp_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_mixture_temperature,
    )

    return sql_mixture_temperature(
        "documents", total_budget=100000, temperature=2.0
    )


@query("mixture_temperature_docs", _mix_temp_oracle())
def mixture_temperature_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture weights
    (curation.mixture_temperature, T=2): raw token shares flattened to
    p^(1/T)/Σp^(1/T) and turned into per-source token budgets — the
    multilingual-rebalance front half of mixture_budget_docs. One fact
    aggregate, then source-dimension windows."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        mixture_temperature,
    )

    return mixture_temperature(
        _t(spark, sf_dir, "documents"), total_budget=100000,
        temperature=2.0,
    )


def _script_profile_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_script_profile,
    )

    return sql_script_profile("documents")


@query("script_profile_docs", _script_profile_oracle())
def script_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class composition
    (textstats.script_profile): average per-doc fractions of ASCII
    letters / digits / spaces / other via the shared
    regexp_replace-length counting idiom — the encoding/mojibake audit
    next to lang_id_docs. One scan, one group-dimension aggregate."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        script_profile,
    )

    return script_profile(_t(spark, sf_dir, "documents"))


def _item_cf_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import sql_item_cf_topk

    return sql_item_cf_topk(min_count=2, top_k=3)


@query("item_cf_parts", _item_cf_oracle())
def item_cf_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets
    (graph.item_cf_topk): cosine on co-occurrence counts from the
    shared pair census, top-3 neighbors per item via a PER-ITEM rank
    window — the Amazon-style recommender readout."""
    from asctb_ct_label_mapper_spark.operators.graph import item_cf_topk

    return item_cf_topk(
        _t(spark, sf_dir, "lineitem"), min_count=2, top_k=3
    )


def _textrank_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_textrank_keywords,
    )

    return sql_textrank_keywords("documents", top_n=20, min_count=2)


@query("textrank_keywords_docs", _textrank_oracle())
def textrank_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords over the corpus (textstats.textrank_keywords):
    PageRank (the shared graph.pagerank driver fold) on the
    word-adjacency graph; the oracle replays the unrolled recurrence
    with the node count derived in-query (sql_pagerank_dynamic)."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        textrank_keywords,
    )

    return textrank_keywords(
        _t(spark, sf_dir, "documents"), top_n=20, min_count=2
    )


def _ldiv_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_l_diversity_report,
    )

    return sql_l_diversity_report(
        "documents", ["lang", "n_chars"], "source", l=2
    )


@query("l_diversity_docs", _ldiv_oracle())
def l_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (profile.l_diversity_report): (lang, n_chars)
    quasi-identifier groups must span >= 2 distinct sources — the
    sensitive-attribute strengthening of the k_anonymity_docs gate;
    two combinable folds, nothing data-sized past the first."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        l_diversity_report,
    )

    return l_diversity_report(
        _t(spark, sf_dir, "documents"), ["lang", "n_chars"], "source", l=2
    )


def _mwu_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_mann_whitney_u,
    )

    return sql_mann_whitney_u("events")


@query("mann_whitney_purchase", _mwu_oracle())
def mann_whitney_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U on per-user purchase value by arm
    (experiment.mann_whitney_u): the non-parametric companion of the
    Welch readout — average ranks over the user-metric frame, tie-
    corrected normal approximation; the billion-user rank path is the
    bucketed global-rank precedent (curriculum_rank_docs)."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        mann_whitney_u,
    )

    return mann_whitney_u(_t(spark, sf_dir, "events"))


@query("mann_whitney_purchase_bucketed", _mwu_oracle())
def mann_whitney_purchase_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The billion-user flavor of mann_whitney_purchase
    (impl='bucketed', r10 verdict #4): the user-metric frame collapses
    to VALUE grain, ranks come from per-bucket cumulative tie counts +
    broadcast offsets (the curriculum_rank_docs precedent) — no global
    window at any grain; same U/z arithmetic, same oracle."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        mann_whitney_u,
    )

    return mann_whitney_u(_t(spark, sf_dir, "events"), impl="bucketed")


def _attrib_pos_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import (
        sql_attribution_position,
    )

    return sql_attribution_position("events", lookback_days=7)


@query("attribution_position_events", _attrib_pos_oracle())
def attribution_position_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution
    (funnel.attribution_position): touches assigned to the next
    conversion within 7 days via a conditional-min-over-FOLLOWING
    window on ONE user shuffle; 40/20/40 credit split; per-touch-type
    rollup — the step between last-touch and Shapley."""
    from asctb_ct_label_mapper_spark.operators.funnel import (
        attribution_position,
    )

    return attribution_position(
        _t(spark, sf_dir, "events"), lookback_days=7
    )


def _changepoint_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_changepoint_daily,
    )

    return sql_changepoint_daily("events")


@query("changepoint_daily_events", _changepoint_oracle())
def changepoint_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point on the daily event-count series
    (timeseries.changepoint_daily): closed-form two-segment SSE from
    prefix sums over the day-dimension frame, argmin by (sse, day) —
    one binary-segmentation step, the monitoring alarm primitive."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        changepoint_daily,
    )

    return changepoint_daily(_t(spark, sf_dir, "events"))


def _streaks_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_order_streaks,
    )

    return sql_order_streaks("orders")


@query("order_streaks_customers", _streaks_oracle())
def order_streaks_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands longest consecutive-month order streak per
    customer, rolled to a histogram (behavior.order_streaks): the
    islands m_idx − row_number trick, fully parallel by key — no
    joins, no global sort."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        order_streaks,
    )

    return order_streaks(_t(spark, sf_dir, "orders"))


def _ks_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import sql_ks_test

    return sql_ks_test("events")


@query("ks_test_purchase", _ks_oracle())
def ks_test_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov on per-user purchase value by arm
    (experiment.ks_test): the distribution-level A/B readout next to
    Welch (means) and Mann-Whitney (ranks) — one user-grain fact pass,
    a value-grain CDF-difference sup, D and the scaled ks_z."""
    from asctb_ct_label_mapper_spark.operators.experiment import ks_test

    return ks_test(_t(spark, sf_dir, "events"))


def _fdr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import sql_fdr_bh

    return sql_fdr_bh("events", q=0.05)


@query("fdr_bh_event_types", _fdr_oracle())
def fdr_bh_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR across one Welch z per event type
    (experiment.fdr_bh): per-user type counts in one fact pass, zeros
    entering through arm totals (no user x type grid), polynomial
    normal CDF shared literal-for-literal with the oracle, step-up
    verdict + monotone adjusted p over the type-dimension frame."""
    from asctb_ct_label_mapper_spark.operators.experiment import fdr_bh

    return fdr_bh(_t(spark, sf_dir, "events"), q=0.05)


def _bootstrap_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_bootstrap_ci,
    )

    return sql_bootstrap_ci("events", n_resamples=200)


@query("bootstrap_ci_purchase", _bootstrap_oracle())
def bootstrap_ci_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean per-user purchase value
    (experiment.bootstrap_ci): deterministic md5-uniform Poisson(1)
    weights per (user, resample) — the coordinated-draw-free bootstrap
    that actually distributes; B=200 fan-out on the USER-grain
    aggregate, then order statistics on the B-row frame."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        bootstrap_ci,
    )

    return bootstrap_ci(_t(spark, sf_dir, "events"), n_resamples=200)


def _spearman_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_spearman_daily,
    )

    return sql_spearman_daily("view", "purchase")


@query("spearman_view_purchase", _spearman_oracle())
def spearman_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the daily view and purchase
    count series (stats.spearman_daily): one conditional date
    aggregate, ranks + explicit moment arithmetic on the calendar-sized
    frame (the ANSI-corr trap avoided on both engines)."""
    from asctb_ct_label_mapper_spark.operators.stats import spearman_daily

    return spearman_daily(_t(spark, sf_dir, "events"), "view", "purchase")


def _trimmed_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_trimmed_means_by_group,
    )

    return sql_trimmed_means_by_group(
        "events", "event_type", "value", where="value IS NOT NULL"
    )


@query("trimmed_mean_values", _trimmed_oracle())
def trimmed_mean_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 5-95% trimmed means (stats.trimmed_means_by_group):
    grouped percentile cuts broadcast back into one conditional
    re-aggregate — the robust location estimate next to the raw mean."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        trimmed_means_by_group,
    )

    return trimmed_means_by_group(
        _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()),
        "event_type",
        "value",
    )


def _hh_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import (
        sql_heavy_hitters_exact,
    )

    return sql_heavy_hitters_exact(
        "documents", "unnest(string_split(text, ' '))", phi=0.002
    )


@query("heavy_hitter_tokens", _hh_oracle())
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ=0.002 heavy-hitter tokens with EXACT counts
    (sketches.heavy_hitters_exact): per-partition Misra-Gries candidate
    sketches (≤1/φ rows per partition, no raw-stream shuffle) then one
    exact verify aggregate semi-joined to the candidates — the sketch
    prunes the plan, the oracle replays the exact HAVING-threshold
    definition."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return heavy_hitters_exact(toks, "token", phi=0.002)


def _tclose_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_t_closeness_report,
    )

    return sql_t_closeness_report(
        "documents", ["lang", "n_chars"], "source", t=0.4
    )


@query("t_closeness_docs", _tclose_oracle())
def t_closeness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (profile.t_closeness_report): the
    distributional strengthening of the k_anonymity_docs /
    l_diversity_docs gates — every (lang, n_chars) group's SOURCE
    distribution must sit within variational distance 0.4 of the
    corpus-wide one. One (quasi, sensitive) fold, global distribution
    re-attached by bounded-vocab broadcast, per-class distance over
    m-row window partitions."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    return t_closeness_report(
        _t(spark, sf_dir, "documents"), ["lang", "n_chars"], "source", t=0.4
    )


def _tclose_ord_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.profile import (
        sql_t_closeness_report,
    )

    return sql_t_closeness_report(
        "(SELECT event_type, CAST(least(greatest(floor(value / 10.0), 0),"
        " 9) AS BIGINT) AS vdec FROM events WHERE value IS NOT NULL) t",
        ["event_type"],
        "vdec",
        t=0.1,
        ordered=True,
    )


@query("t_closeness_events_ordered", _tclose_ord_oracle())
def t_closeness_events_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-domain t-closeness (profile.t_closeness_report,
    ordered=True): per event type, the value-DECILE distribution must
    sit within unit-step Earth-Mover's Distance 0.1 of the global one
    — the numeric-sensitive-attribute flavor, where EMD reduces to the
    normalized |cumulative difference| sum over the sorted domain."""
    from asctb_ct_label_mapper_spark.operators.profile import (
        t_closeness_report,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    binned = ev.select(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)), F.lit(9)
        )
        .cast("bigint")
        .alias("vdec"),
    )
    return t_closeness_report(
        binned, ["event_type"], "vdec", t=0.1, ordered=True
    )


def _rankeval_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.retrieval import (
        sql_bm25_topk,
        sql_ranking_metrics,
        _sql_tf_cte,
    )

    runs = " UNION ALL ".join(
        f"""SELECT '{t}' AS query, doc_id,
            row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM ({sql_bm25_topk("documents", terms=[t], k=10)})"""
        for t in _BM25_TERMS
    )
    qrels = " UNION ALL ".join(
        f"""SELECT '{t}' AS query, doc_id,
            least(tf_0, 3) AS rel
        FROM ({_sql_tf_cte("documents", [t], "doc_id", "text")})
        WHERE tf_0 > 0"""
        for t in _BM25_TERMS
    )
    return sql_ranking_metrics(runs, qrels, k=10)


@query("ranking_eval_docs", _rankeval_oracle())
def ranking_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval evaluation (retrieval.ranking_metrics):
    NDCG@10 / MRR / P@10 / R@10 of the BM25 channel against graded
    term-frequency judgments (rel = min(tf, 3)), one row per query
    term — the trec_eval-shaped gate a ranking change ships through.
    The run side comes from retrieval.bm25_runs' BATCHED path: one
    persisted corpus tf pass scores all three queries (vs three full
    scans query-by-query), and the judgments read the SAME cached
    frame (Spark's cache manager matches the canonicalized plan).
    Metrics are per-query windows over <= k rows."""
    from asctb_ct_label_mapper_spark.operators.retrieval import (
        _per_doc_tf,
        bm25_runs,
        ranking_metrics,
    )
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    docs = _t(spark, sf_dir, "documents")
    runs = bm25_runs(docs, {t: [t] for t in _BM25_TERMS}, k=10)
    all_terms = sorted(set(_BM25_TERMS))
    idx = {t: i for i, t in enumerate(all_terms)}
    per_doc = pooled_persist(
        _per_doc_tf(docs, all_terms, "doc_id", "text")
    )
    qrels = None
    for t in _BM25_TERMS:
        rels = (
            per_doc.filter(F.col(f"tf_{idx[t]}") > 0)
            .select(
                F.lit(t).alias("query"),
                "doc_id",
                F.least(F.col(f"tf_{idx[t]}"), F.lit(3)).alias("rel"),
            )
        )
        qrels = rels if qrels is None else qrels.unionAll(rels)
    return ranking_metrics(runs, qrels, k=10)


def _qbins_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.sketches import (
        sql_binned_quantiles,
    )

    return sql_binned_quantiles(
        "events", "value", lo=0.0, hi=400.0, n_bins=200,
        qs=(0.25, 0.5, 0.9, 0.99),
    )


@query("quantile_bins_events", _qbins_oracle())
def quantile_bins_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-quantile sketch (sketches.binned_quantiles):
    p25/p50/p90/p99 of event value from ONE combinable bin fold over
    the declared [0, 400) domain — error bounded by the 2.0-wide bin,
    no global sort, partials merge like every other sketch in the
    family. The 100 TB p99 without ordering anything data-sized."""
    from asctb_ct_label_mapper_spark.operators.sketches import (
        binned_quantiles,
    )

    return binned_quantiles(
        _t(spark, sf_dir, "events"), "value", lo=0.0, hi=400.0, n_bins=200,
        qs=(0.25, 0.5, 0.9, 0.99),
    )


def _lpa_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_label_propagation,
        sql_nation_trade_edges_count,
    )

    return (
        f"WITH {sql_nation_trade_edges_count()}, "
        f"{sql_label_propagation(iters=4)}"
    )


@query("label_prop_trade_communities", _lpa_oracle())
def label_prop_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities
    (graph.label_propagation) on the COUNT-weighted nation trade graph
    — 4 synchronous min-tie-break iterations; count weights keep the
    argmax exact-in-double so both engines converge identically. The
    trade-bloc readout next to pagerank_nation_trade's centrality."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        label_propagation,
        nation_trade_edges_count,
    )

    edges = nation_trade_edges_count(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )
    return label_propagation(edges, iters=4)


def _ewma_bt_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_ewma_backtest,
    )

    return sql_ewma_backtest(
        "SELECT CAST(ts AS DATE) AS d, count(*) AS y FROM events"
        " WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1",
        time_col="d",
        value_col="y",
        alpha=0.5,
    )


@query("ewma_backtest_purchases", _ewma_bt_oracle())
def ewma_backtest_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA forecast backtest
    (timeseries.ewma_backtest): MAE/RMSE/SMAPE of the alpha=0.5 EWMA
    predicting each day's purchase count from the prior state — the
    error readout a forecasting change ships against. The recurrence
    runs as an exact rescaled prefix sum over the daily rollup
    (aggregate grain; the data-sized work is the one groupBy)."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        ewma_backtest,
    )

    daily = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        )
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return ewma_backtest(daily, time_col="d", value_col="y", alpha=0.5)


def _kappa_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_agreement_kappa,
    )
    from asctb_ct_label_mapper_spark.operators.textstats import sql_lang_id

    return sql_agreement_kappa(
        f"""(SELECT d.lang, p.lang_pred
             FROM documents d
             JOIN ({sql_lang_id("documents")}) p USING (doc_id)) t""",
        "lang",
        "lang_pred",
    )


@query("kappa_langid_docs", _kappa_oracle())
def kappa_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between declared and predicted language
    (experiment.agreement_kappa over the lang_confusion join) — the
    chance-corrected scalar behind the confusion matrix; one
    contingency fold, marginals pooled from the cells."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        agreement_kappa,
    )
    from asctb_ct_label_mapper_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    pred = lang_id(docs).select("doc_id", "lang_pred")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return agreement_kappa(joined, "lang", "lang_pred")


def _calib_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_calibration_report,
    )

    return sql_calibration_report(
        "(SELECT least(n_chars, 2000) / 2000.0 AS p_en,"
        " CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en"
        " FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL) t",
        "p_en",
        "is_en",
        n_bins=10,
    )


@query("calibration_doclen_en", _calib_oracle())
def calibration_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier/ECE (experiment.calibration_report)
    for a deterministic toy scorer (scaled doc length as P(lang=en))
    — the calibration gate every probabilistic curation scorer ships
    through; exercises the clamped equi-width binning and the pooled
    one-scan Brier/ECE gates on exact rational probabilities."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        calibration_report,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    scored = docs.select(
        (F.least(F.col("n_chars"), F.lit(2000)) / 2000.0).alias("p_en"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    return calibration_report(scored, "p_en", "is_en", n_bins=10)


def _ltv_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import sql_cohort_ltv

    return sql_cohort_ltv(
        "events", value_where="event_type = 'purchase'"
    )


@query("cohort_ltv_events", _ltv_oracle())
def cohort_ltv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves (behavior.cohort_ltv): acquisition-week
    cohorts, purchase-only monetization, cumulative value per acquired
    user by age in weeks — the revenue sibling of
    cohort_retention_events; integer epoch-week arithmetic keeps both
    engines exact."""
    from asctb_ct_label_mapper_spark.operators.behavior import cohort_ltv

    return cohort_ltv(
        _t(spark, sf_dir, "events"),
        value_where=F.col("event_type") == "purchase",
    )


def _ttc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_funnel_time_to_convert,
    )

    return sql_funnel_time_to_convert(
        "events", ["signup", "view", "purchase"]
    )


@query("funnel_time_to_convert", _ttc_oracle())
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the signup->view->purchase
    funnel (behavior.funnel_time_to_convert): n_converted, mean and
    nearest-rank p25/p50/p90 seconds from first signup to purchase
    reach — shares the one-pass fold's reach frame with
    funnel_signup_purchase so the converted set is identical."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        funnel_time_to_convert as _op,
    )

    return _op(
        _t(spark, sf_dir, "events"), ["signup", "view", "purchase"]
    )


def _mde_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import sql_ab_mde

    return sql_ab_mde("events")


@query("ab_mde_purchase", _mde_oracle())
def ab_mde_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the current sample
    (experiment.ab_mde): the power readout next to ab_welch_purchase —
    same zero-filled per-user metric frame, one-row z-quantile
    arithmetic; absolute and control-relative MDE."""
    from asctb_ct_label_mapper_spark.operators.experiment import ab_mde

    return ab_mde(_t(spark, sf_dir, "events"))


def _lift_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_lift_table,
    )

    return sql_lift_table(
        "(SELECT doc_id, least(n_chars, 2000) / 2000.0 AS p_en,"
        " CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en"
        " FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL) t",
        "p_en",
        "is_en",
        "doc_id",
        n_tiles=10,
    )


@query("lift_table_doclen_en", _lift_oracle())
def lift_table_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table (experiment.lift_table)
    for the calibration_doclen_en scorer — pos rate, capture share,
    and lift per score decile; the targeting readout a curation
    scorer ships with (calibration says the probabilities are honest,
    lift says what acting on the top decile buys)."""
    from asctb_ct_label_mapper_spark.operators.experiment import lift_table

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    scored = docs.select(
        "doc_id",
        (F.least(F.col("n_chars"), F.lit(2000)) / 2000.0).alias("p_en"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    return lift_table(scored, "p_en", "is_en", "doc_id", n_tiles=10)


def _uplift_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_segment_uplift_scan,
    )

    return sql_segment_uplift_scan(
        "(SELECT lang, source,"
        " CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS is_long"
        " FROM documents) t",
        ["lang", "source"],
        "is_long",
        min_n=30,
        k=15,
    )


@query("segment_uplift_docs", _uplift_oracle())
def segment_uplift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-discovery stump scan (experiment.segment_uplift_scan):
    which language/source segments over- or under-index on long
    documents, ranked by 1-dof proportion chi-square — ONE scan
    unpivoted via stack, one combinable (dim, value) fold, totals
    pooled from a single dimension's marginals."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        segment_uplift_scan,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.when(F.col("n_chars") > 500, 1).otherwise(0).alias("is_long"),
    )
    return segment_uplift_scan(
        docs, ["lang", "source"], "is_long", min_n=30, k=15
    )


def _baselines_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_backtest_baselines,
    )

    return sql_backtest_baselines(
        "SELECT CAST(ts AS DATE) AS d, count(*) AS y FROM events"
        " WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1",
        season=7,
    )


@query("backtest_baselines_purchases", _baselines_oracle())
def backtest_baselines_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive / seasonal-naive / drift one-step backtest
    (timeseries.backtest_baselines) on the daily purchase counts — the
    error floor ewma_backtest_purchases and the Holt family must beat;
    three lag windows over the day-grain rollup, one per-method fold."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        backtest_baselines,
    )

    daily = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
        )
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return backtest_baselines(daily, season=7)


# ---------------------------------------------------------------------------
# round-11c batch: variance decomposition, effect sizes, empirical-Bayes
# rates, burstiness, HITS / k-core / assortativity / structural similarity,
# containment dedup, hard-negative mining, quantile normalization
# ---------------------------------------------------------------------------


def _anova_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_anova_oneway

    return sql_anova_oneway("events", "event_type", "value")


@query("anova_value_by_type", _anova_oracle())
def anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types
    (stats.anova_oneway): does the type explain the value at all?
    One combinable grouped sufficient-statistic aggregate, then a
    k-row fold — F, eta-squared, and both sums of squares in one row."""
    from asctb_ct_label_mapper_spark.operators.stats import anova_oneway

    return anova_oneway(_t(spark, sf_dir, "events"), "event_type", "value")


def _contingency_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_contingency_effects,
    )

    return sql_contingency_effects(
        "(SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow"
        " FROM events) t",
        "event_type",
        "dow",
    )


@query("contingency_type_dow", _contingency_oracle())
def contingency_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency effect sizes (stats.contingency_effects) for
    event type x day-of-week: chi-square, G-statistic, dof, and
    Cramér's V — the bounded association strength
    categorical_association's chi2+MI readout leaves out. One
    contingency aggregate; marginals re-derive from the persisted
    cells. Day-of-week uses the assoc_type_dow_events parity shim
    (Spark dayofweek = DuckDB dayofweek + 1)."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        contingency_effects,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.dayofweek(F.to_date("ts")).alias("dow")
    )
    return contingency_effects(ev, "event_type", "dow")


def _eb_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_eb_rate_shrinkage,
    )

    return sql_eb_rate_shrinkage(
        "events",
        "user_id",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END",
    )


@query("eb_shrunk_purchase_rate", _eb_oracle())
def eb_shrunk_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates (stats.eb_rate_shrinkage): method-of-moments prior fit on the
    key-grain aggregate, one broadcast prior row, bucket-grain readout
    of how far low-evidence users get pulled toward the corpus rate."""
    from asctb_ct_label_mapper_spark.operators.stats import eb_rate_shrinkage

    return eb_rate_shrinkage(
        _t(spark, sf_dir, "events"),
        "user_id",
        (F.col("event_type") == "purchase").cast("int"),
    )


def _burstiness_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_burstiness_histogram,
    )

    return sql_burstiness_histogram("events", "user_id", "ts")


@query("burstiness_hist_users", _burstiness_oracle())
def burstiness_hist_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness histogram (stats.burstiness_histogram):
    B = (sigma-mu)/(sigma+mu) over inter-arrival gaps — the
    bot-vs-human behavioural fingerprint, folded to fixed [-1,1] bins.
    One keyed window shuffle, then sufficient-statistic aggregates."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        burstiness_histogram,
    )

    return burstiness_histogram(_t(spark, sf_dir, "events"), "user_id", "ts")


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from asctb_ct_label_mapper_spark.operators.graph import (
        nation_trade_edges,
    )

    return nation_trade_edges(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def _trade_edges_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-weight trade edges: the 25-nation rollup is a
    near-complete digraph, so every topology readout (k-core peeling,
    assortativity variance, neighbor-set similarity) degenerates on it;
    thresholding at the mean edge weight keeps the STRONG-trade
    subgraph where structure exists. One edge-grain aggregate, one
    broadcast scalar. BOTH comparands are 6dp-ROUNDED before the cut
    (the hard_negatives banding convention): raw-double w and avg(w)
    differ across engines/partitionings at the last ulp, so a boundary
    edge could otherwise flip in or out of the subgraph three
    hash-verified queries consume (r11 review finding)."""
    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    edges = pooled_persist(_trade_edges(spark, sf_dir))
    aw = edges.agg(F.round(F.avg("w"), 6).alias("_aw"))
    return (
        edges.crossJoin(F.broadcast(aw))
        .filter(F.round(F.col("w"), 6) >= F.col("_aw"))
        .select("src", "dst", "w")
    )


def _sql_trade_edges_filtered() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_nation_trade_edges,
    )

    raw = sql_nation_trade_edges().replace("edges AS (", "edges_raw AS (", 1)
    return (
        raw
        + """, edges AS (
        SELECT src, dst, w FROM edges_raw
        WHERE round(w, 6) >= (SELECT round(avg(w), 6) FROM edges_raw)
    )"""
    )


def _hits_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_hits,
        sql_nation_trade_edges,
    )

    return f"WITH {sql_nation_trade_edges()}, {sql_hits(iters=8)}"


@query("hits_nation_trade", _hits_oracle())
def hits_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the nation trade digraph
    (graph.hits_scores): exporter-hub vs importer-authority centrality
    next to pagerank_nation_trade; L1-normalized power iteration folded
    on the driver over the dimension-grain edge list (pagerank-local
    precedent), oracle = the same iteration unrolled into CTEs."""
    from asctb_ct_label_mapper_spark.operators.graph import hits_scores

    return hits_scores(_trade_edges(spark, sf_dir), iters=8)


def _kcore_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import sql_k_core

    return f"WITH {_sql_trade_edges_filtered()}, {sql_k_core(k=12, iters=15)}"


@query("kcore_nation_trade", _kcore_oracle())
def kcore_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-core of the strong-trade nation graph (graph.k_core):
    iterative peeling to the dense trading bloc, unrolled to a fixed
    point on both engines; degree = distinct strong-trade partners
    among survivors."""
    from asctb_ct_label_mapper_spark.operators.graph import k_core

    return k_core(_trade_edges_filtered(spark, sf_dir), k=12, iters=15)


def _assort_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_degree_assortativity,
    )

    return f"WITH {_sql_trade_edges_filtered()}, {sql_degree_assortativity()}"


@query("assortativity_trade", _assort_oracle())
def assortativity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the strong-trade graph
    (graph.degree_assortativity): do high-degree trading nations link
    to each other or to the periphery? Edge-grain closed-form moments
    over the symmetrized distinct pair set."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        degree_assortativity,
    )

    return degree_assortativity(_trade_edges_filtered(spark, sf_dir))


def _njacc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_neighbor_jaccard_topk,
    )

    return f"WITH {_sql_trade_edges_filtered()}, {sql_neighbor_jaccard_topk(topk=15)}"


@query("neighbor_jaccard_nations", _njacc_oracle())
def neighbor_jaccard_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-equivalence top pairs (graph.neighbor_jaccard_topk):
    which exporter nations sell into the most similar strong-trade
    markets — shared-successor candidate join (never all-pairs),
    injective (jaccard DESC, a, b) order."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        neighbor_jaccard_topk,
    )

    return neighbor_jaccard_topk(_trade_edges_filtered(spark, sf_dir), topk=15)


def _containment_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dedup import (
        sql_containment_pairs,
    )

    return sql_containment_pairs("source", threshold=0.5)


@query("containment_pairs_docs", _containment_oracle())
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed word-3-gram containment pairs within the source block
    (dedup.containment_pairs): |A∩B|/|A| — the sub-document/boilerplate
    inclusion detector that symmetric Jaccard misses; one undirected
    shared-shingle census, both directions projected from the counted
    pair."""
    from asctb_ct_label_mapper_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        "source",
        threshold=0.5,
    )


_HARD_NEG_ORACLE = """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 = 0),
         r AS (SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 <> 0),
         s AS (SELECT q.vec_id, r.rid,
                      round(list_cosine_similarity(q.e, r.e), 6) AS sc
               FROM q CROSS JOIN r),
         banded AS (SELECT * FROM s WHERE sc >= 0.30 AND sc < 0.90),
         ranked AS (SELECT vec_id, rid, sc,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY sc DESC, rid) AS rn
                    FROM banded)
    SELECT vec_id, rid AS ref_id, sc AS score, rn AS rank
    FROM ranked WHERE rn <= 3
"""


@query("hard_negatives_embeddings", _HARD_NEG_ORACLE)
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives_topk): per query
    vector, the top-3 reference neighbors with cosine in [0.30, 0.90) —
    informative contrastive negatives below the near-dup ceiling; exact
    broadcast scorer with the band applied before the rank window."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        hard_negatives_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    reference = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    return hard_negatives_topk(
        queries,
        reference,
        k=3,
        query_id_cols=["vec_id"],
        ref_id_col="vec_id",
        lo=0.30,
        hi=0.90,
    ).select("vec_id", "ref_id", "score", "rank")


def _qnorm_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_quantile_normalize,
    )

    return sql_quantile_normalize("documents", "source", "n_chars", "doc_id")


@query("quantile_normalize_doclen", _qnorm_oracle())
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources
    (curation.quantile_normalize): each source's length distribution is
    rank-mapped onto the pooled distribution (integer-exact positions;
    pooled order statistic via the id-bucketed global_rank, never a
    single-partition sort) — the cross-source calibration step before
    mixture weighting."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        quantile_normalize,
    )

    return quantile_normalize(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id"
    )


# ---------------------------------------------------------------------------
# round-11d batch: co-movement monitors, Simpson's check, readability,
# ORC interop
# ---------------------------------------------------------------------------


def _rolling_corr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_rolling_corr_daily,
    )

    return sql_rolling_corr_daily("view", "purchase", window=14)


@query("rolling_corr_view_purchase", _rolling_corr_oracle())
def rolling_corr_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between the daily view and
    purchase series (stats.rolling_corr_daily): regime-change monitor
    from rolling sufficient-statistic windows on the calendar-grain
    frame; one fact pass."""
    from asctb_ct_label_mapper_spark.operators.stats import rolling_corr_daily

    return rolling_corr_daily(
        _t(spark, sf_dir, "events"), "view", "purchase", window=14
    )


def _xcorr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_xcorr_daily

    return sql_xcorr_daily("view", "purchase", max_lag=7)


@query("xcorr_view_purchase", _xcorr_oracle())
def xcorr_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation, views leading purchases by 0..7 days
    (stats.xcorr_daily): the lead-indicator probe — one fact pass, then
    a lag-spine shifted self-join on the calendar-grain series."""
    from asctb_ct_label_mapper_spark.operators.stats import xcorr_daily

    return xcorr_daily(
        _t(spark, sf_dir, "events"), "view", "purchase", max_lag=7
    )


def _simpson_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_simpson_slope_check,
    )

    return sql_simpson_slope_check(
        "events",
        "event_type",
        "datediff('day', DATE '1970-01-01', CAST(ts AS DATE))",
        "value",
    )


@query("simpson_value_trend", _simpson_oracle())
def simpson_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox probe (stats.simpson_slope_check): pooled OLS
    slope of event value over time vs the per-event-type slopes — a
    nonzero opposite-sign census means the pooled trend is a mixture
    artifact. One grouped sufficient-statistic aggregate serves both
    grains."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        simpson_slope_check,
    )

    return simpson_slope_check(
        _t(spark, sf_dir, "events"),
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")),
        "value",
    )


def _readability_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_readability_by_lang,
    )

    return sql_readability_by_lang("documents")


@query("readability_docs", _readability_oracle())
def readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Flesch profile (textstats.readability_by_lang) with
    the deterministic vowel-group syllable proxy — three regexp_count
    projections in one narrow scan, zero shuffle before the lang fold."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        readability_by_lang,
    )

    return readability_by_lang(_t(spark, sf_dir, "documents"))


@query(
    "orc_roundtrip",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
        round(sum(o_totalprice), 2) AS sum_price
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY 1
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 ORC flavor (sinks.write_orc): write an orders subset through
    the native ORC sink, read it back, and aggregate — the oracle
    computes the same rollup from the ORIGINAL parquet, proving the
    Hive-interop columnar round-trip is lossless for longs, decimals,
    strings, and dates."""
    from asctb_ct_label_mapper_spark.sources.sinks import write_orc

    path = _fixture_dir("orders_orc_roundtrip")
    src = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    write_orc(src, path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# round-11e batch: growth accounting, stickiness, power-user curve,
# WoW report, SPC control chart, OOV coverage
# ---------------------------------------------------------------------------


def _nvr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_new_vs_returning_daily,
    )

    return sql_new_vs_returning_daily("events")


@query("new_vs_returning_daily", _nvr_oracle())
def new_vs_returning_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (behavior.new_vs_returning_daily): daily
    actives split into first-seen vs returning — one deduplicated
    (day, user) frame feeds both the first-day fold and the day
    census; the fact table is scanned once."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        new_vs_returning_daily,
    )

    return new_vs_returning_daily(_t(spark, sf_dir, "events"))


def _stickiness_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_stickiness_monthly,
    )

    return sql_stickiness_monthly("events")


@query("stickiness_monthly", _stickiness_oracle())
def stickiness_monthly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly avg(DAU)/MAU stickiness (behavior.stickiness_monthly):
    exact distinct counts, both grains re-aggregated from ONE
    deduplicated (day, user) frame."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        stickiness_monthly,
    )

    return stickiness_monthly(_t(spark, sf_dir, "events"))


def _puc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_power_user_curve,
    )

    return sql_power_user_curve("events")


@query("power_user_curve", _puc_oracle())
def power_user_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve (behavior.power_user_curve): active-days-per-
    user-per-month histogram in fixed integer buckets — the
    habit-vs-drive-by shape readout."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        power_user_curve,
    )

    return power_user_curve(_t(spark, sf_dir, "events"))


def _wow_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_period_over_period_weekly,
    )

    return sql_period_over_period_weekly("events")


@query("weekly_growth_events", _wow_oracle())
def weekly_growth_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth report
    (timeseries.period_over_period_weekly): weekly counts, WoW percent
    change, trailing 4-week average — windows on the week-grain frame
    only."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        period_over_period_weekly,
    )

    return period_over_period_weekly(_t(spark, sf_dir, "events"))


def _pchart_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_p_chart_daily,
    )

    return sql_p_chart_daily(
        "events", "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
    )


@query("pchart_purchase_rate", _pchart_oracle())
def pchart_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart on the daily purchase proportion
    (timeseries.p_chart_daily): pooled center line, per-day binomial
    3-sigma limits, out-of-control flags — one day-grain fold plus a
    one-row broadcast."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        p_chart_daily,
    )

    return p_chart_daily(
        _t(spark, sf_dir, "events"),
        (F.col("event_type") == "purchase").cast("int"),
    )


def _oov_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_oov_rate_by_group,
    )

    return sql_oov_rate_by_group("src0")


@query("oov_rate_docs", _oov_oracle())
def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of every source against src0's
    vocabulary (textstats.oov_rate_by_group): tokenizer-coverage /
    domain-shift probe — one combinable (source, token) cell fold,
    vocabulary-sized everything after."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        oov_rate_by_group,
    )

    return oov_rate_by_group(_t(spark, sf_dir, "documents"), "src0")


# ---------------------------------------------------------------------------
# round-11f batch: binary-metric experimentation, causal DiD,
# cluster-quality gauge
# ---------------------------------------------------------------------------


def _two_prop_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_two_prop_test,
    )

    return sql_two_prop_test("events")


@query("two_prop_test_purchase", _two_prop_oracle())
def two_prop_test_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on per-user purchase conversion with
    Wilson 95% intervals and required-n-at-80%-power
    (experiment.two_prop_test): the binary-metric sibling of the Welch
    readout — one user-grain conversion fold, then one-row
    arithmetic."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        two_prop_test,
    )

    return two_prop_test(_t(spark, sf_dir, "events"))


def _did_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_did_estimate,
    )

    return sql_did_estimate("events")


@query("did_purchase_value", _did_oracle())
def did_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase value
    (experiment.did_estimate): arm-hash treatment, deterministic
    midpoint pre/post split, one 2x2 conditional fold — the
    parallel-trends causal readout."""
    from asctb_ct_label_mapper_spark.operators.experiment import did_estimate

    return did_estimate(_t(spark, sf_dir, "events"))


def _silhouette_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.similarity import (
        sql_silhouette_seeded,
    )

    return sql_silhouette_seeded(dim=64, n_lists=8, seed=11)


@query("silhouette_embeddings", _silhouette_oracle())
def silhouette_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette against the IVF family's seeded centroids
    (similarity.silhouette_seeded): does the list count fit the corpus
    geometry? Per-row literal dot products + struct-array sort (zero
    shuffle), list-grain fold; oracle replays the same centroids as
    literals."""
    from asctb_ct_label_mapper_spark.operators.similarity import (
        silhouette_seeded,
    )

    return silhouette_seeded(
        _t(spark, sf_dir, "embeddings"), dim=64, n_lists=8, seed=11
    )


# ---------------------------------------------------------------------------
# round-11g batch: concordance correlation, concentration curve, churn,
# lexical diversity
# ---------------------------------------------------------------------------


def _kendall_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_kendall_tau_daily,
    )

    return sql_kendall_tau_daily("view", "purchase")


@query("kendall_tau_view_purchase", _kendall_oracle())
def kendall_tau_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between the daily view and purchase series
    (stats.kendall_tau_daily): the correlation family's concordance
    rung — exact integer pair fold on the calendar-grain frame, tie
    corrections per margin."""
    from asctb_ct_label_mapper_spark.operators.stats import kendall_tau_daily

    return kendall_tau_daily(_t(spark, sf_dir, "events"), "view", "purchase")


def _lorenz_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_lorenz_curve

    return sql_lorenz_curve(
        "events",
        "user_id",
        "value",
        where="event_type = 'purchase'",
    )


@query("lorenz_purchase_users", _lorenz_oracle())
def lorenz_purchase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz decile table of per-user purchase value
    (stats.lorenz_curve): tile shares + cumulative shares — the curve
    behind gini_purchase_users' single number; injective key-grain
    ntile (the RFM precedent)."""
    from asctb_ct_label_mapper_spark.operators.stats import lorenz_curve

    return lorenz_curve(
        _t(spark, sf_dir, "events"),
        "user_id",
        "value",
        value_filter=F.col("event_type") == "purchase",
    )


def _churn_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_churn_rate_periodic,
    )

    return sql_churn_rate_periodic("events", period="week")


@query("churn_rate_weekly", _churn_oracle())
def churn_rate_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn (behavior.churn_rate_periodic): of each week's
    active users, the share silent the NEXT week — the attrition dual
    of the retention matrix, right-censored at the last observed
    week. One deduplicated (week, user) frame, one shifted self
    left-join on the co-partitioned key."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        churn_rate_periodic,
    )

    return churn_rate_periodic(_t(spark, sf_dir, "events"), period="week")


def _ttr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_lexical_diversity_by_group,
    )

    return sql_lexical_diversity_by_group("documents")


@query("lexical_diversity_docs", _ttr_oracle())
def lexical_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio + hapax share
    (textstats.lexical_diversity_by_group): the pointwise companions to
    the vocab_growth Heaps curve — one combinable (source, token) cell
    fold, vocabulary-sized re-aggregation."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        lexical_diversity_by_group,
    )

    return lexical_diversity_by_group(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# round-11h batch: distribution shape, extreme-value anomaly, linear
# interpolation
# ---------------------------------------------------------------------------


def _moments_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_moments_by_group,
    )

    return sql_moments_by_group("events", "event_type", "value")


@query("moments_value_by_type", _moments_oracle())
def moments_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shape per event type (stats.moments_by_group):
    skewness / excess kurtosis / CV from explicit power sums — the
    near-normal-or-heavy-tailed gate in front of z-score-based
    anomaly rules; engine-builtin skewness/kurtosis differ in bias
    correction, the power-sum algebra does not."""
    from asctb_ct_label_mapper_spark.operators.stats import moments_by_group

    return moments_by_group(_t(spark, sf_dir, "events"), "event_type", "value")


def _esd_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_esd_max_daily

    return sql_esd_max_daily("events")


@query("esd_max_daily_events", _esd_oracle())
def esd_max_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum studentized deviate of the daily event counts
    (stats.esd_max_daily): which calendar day sticks out most — the
    extreme-value anomaly readout next to the MAD gate; injective
    rounded-z argmax on both engines."""
    from asctb_ct_label_mapper_spark.operators.stats import esd_max_daily

    return esd_max_daily(_t(spark, sf_dir, "events"))


def _interp_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_interpolate_daily,
    )

    return sql_interpolate_daily(
        "events",
        where="event_type = 'purchase' AND value > 95",
    )


@query("interpolate_daily_values", _interp_oracle())
def interpolate_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over calendar gaps of a sparse daily level
    series — high-value purchases (timeseries.interpolate_daily): the
    imputation flavor next to gapfill's zero-fill; ignore-null window
    walks on the calendar-grain frame."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        interpolate_daily,
    )

    return interpolate_daily(
        _t(spark, sf_dir, "events"),
        value_filter=(F.col("event_type") == "purchase")
        & (F.col("value") > 95),
    )


# ---------------------------------------------------------------------------
# round-11i batch: referential-integrity audit, correlation matrix
# ---------------------------------------------------------------------------


def _fk_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dq import sql_fk_audit_report

    return sql_fk_audit_report()


@query("fk_audit_star", _fk_oracle())
def fk_audit_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity report over every FK edge of the star
    schema (dq.fk_audit_report): orphan/NULL-key censuses via LEFT ANTI
    joins — the contract check that inner-join metrics silently depend
    on."""
    from asctb_ct_label_mapper_spark.operators.dq import fk_audit_report

    tables = {
        t: _t(spark, sf_dir, t)
        for t in (
            "lineitem",
            "orders",
            "part",
            "supplier",
            "customer",
            "nation",
            "region",
        )
    }
    return fk_audit_report(tables)


def _corr_matrix_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_corr_matrix_daily_types,
    )

    return sql_corr_matrix_daily_types("events")


@query("corr_matrix_event_types", _corr_matrix_oracle())
def corr_matrix_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix of every event type's daily count series
    (stats.corr_matrix_daily_types): the co-movement overview above the
    rolling/lagged zoom-ins; one pivoted date aggregate, pair folds on
    the calendar-grain frame."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        corr_matrix_daily_types,
    )

    return corr_matrix_daily_types(_t(spark, sf_dir, "events"))


def _ratio_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_ab_ratio_metric,
    )

    return sql_ab_ratio_metric("events")


@query("ab_ratio_purchase_per_view", _ratio_oracle())
def ab_ratio_purchase_per_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-sums metric (purchase value per view) per arm with
    DELTA-METHOD standard errors (experiment.ab_ratio_metric): the
    revenue-per-session-class readout whose naive variance is wrong
    because numerator and denominator correlate within user; one
    user-grain fold, a 2-row bivariate arm aggregate, closed-form
    arithmetic."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        ab_ratio_metric,
    )

    return ab_ratio_metric(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# round-12 batch: Bayesian A/B, always-valid sequential test, Nelson-Aalen
# hazard, Fellegi-Sunter linkage, harmonic closeness, source vocab overlap,
# LSH S-curve planner
# ---------------------------------------------------------------------------


def _bayes_ab_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_bayes_ab_conversion,
    )

    return sql_bayes_ab_conversion("events")


@query("bayes_ab_purchase", _bayes_ab_oracle())
def bayes_ab_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial Bayesian A/B on the per-user purchase-conversion
    flag (experiment.bayes_ab_conversion): posterior means, lift, and
    P(B>A) via the shared A&S normal polynomial — one (user, converted)
    fact pass, a 1-row closed-form fold."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        bayes_ab_conversion,
    )

    return bayes_ab_conversion(_t(spark, sf_dir, "events"))


def _msprt_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_msprt_conversion_daily,
    )

    return sql_msprt_conversion_daily("events")


@query("msprt_purchase_daily", _msprt_oracle())
def msprt_purchase_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential test (mixture SPRT) on the daily
    cumulative purchase-conversion difference
    (experiment.msprt_conversion_daily): the anytime-peeking p-value
    next to the fixed-horizon two-prop z — one user-grain fold, then
    day-grain running windows."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        msprt_conversion_daily,
    )

    return msprt_conversion_daily(_t(spark, sf_dir, "events"))


def _na_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_nelson_aalen_hazard,
    )

    return sql_nelson_aalen_hazard("events")


@query("nelson_aalen_retention", _na_oracle())
def nelson_aalen_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of signup->purchase conversion
    (stats.nelson_aalen_hazard): the hazard-scale sibling of
    kaplan_meier_retention off the SAME shared duration-grain risk
    sets, plus the Fleming-Harrington survival exp(-H)."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        nelson_aalen_hazard,
    )

    return nelson_aalen_hazard(_t(spark, sf_dir, "events"))


def _fs_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.linkage import (
        sql_fs_linkage_weights,
    )

    return sql_fs_linkage_weights("part", threshold=3.0)


@query("fs_linkage_parts", _fs_oracle())
def fs_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage scores over the first-token
    blocked part census (linkage.fs_linkage_weights): frequency-based
    u-probabilities, supplied m-probabilities, log2 agreement weights —
    the principled scoring layer above fuzzy_part_names; threshold 3
    bits keeps the strong-match tail."""
    from asctb_ct_label_mapper_spark.operators.linkage import (
        fs_linkage_weights,
    )

    return fs_linkage_weights(_t(spark, sf_dir, "part"), threshold=3.0)


def _closeness_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_harmonic_closeness,
    )

    return (
        f"WITH {_sql_trade_edges_filtered()}, "
        f"{sql_harmonic_closeness(iters=8)}"
    )


@query("closeness_nation_trade", _closeness_oracle())
def closeness_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality on the strong-trade nation graph
    (graph.harmonic_closeness): the geodesic third centrality next to
    pagerank/HITS/k-core, driver-local BFS over the dimension-grain
    edge list, oracle = the same BFS unrolled into min-distance CTE
    levels."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        harmonic_closeness,
    )

    return harmonic_closeness(_trade_edges_filtered(spark, sf_dir), iters=8)


def _vocab_overlap_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_vocab_overlap_sources,
    )

    return sql_vocab_overlap_sources("documents")


@query("vocab_overlap_sources", _vocab_overlap_oracle())
def vocab_overlap_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary Jaccard + containment
    (textstats.vocab_overlap_sources): the type-set companion of
    corpus_divergence's frequency view — one distinct (source, token)
    census, token equi-join intersection, broadcast sizes."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        vocab_overlap_sources,
    )

    return vocab_overlap_sources(_t(spark, sf_dir, "documents"))


def _scurve_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.dedup import sql_lsh_scurve

    return sql_lsh_scurve(n_hashes=16)


@query("lsh_scurve_table", _scurve_oracle())
def lsh_scurve_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding S-curve planner (dedup.lsh_scurve):
    P(candidate | s) = 1 - (1 - s^r)^b over every bands x rows
    factorization of the module's 16-hash signature — the closed-form
    table that justifies the dedup family's banding defaults before a
    100 TB pass pays for them.  No data scan; parameter-sized grid."""
    from asctb_ct_label_mapper_spark.operators.dedup import lsh_scurve

    return lsh_scurve(spark, n_hashes=16)


def _conformal_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_conformal_daily_forecast,
    )

    return sql_conformal_daily_forecast("events")


@query("conformal_daily_forecast", _conformal_oracle())
def conformal_daily_forecast_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal intervals around a seasonal-naive daily forecast
    (timeseries.conformal_daily_forecast): distribution-free >=90%
    coverage from the calibration order statistic — day-grain windows
    after one fact pass."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        conformal_daily_forecast,
    )

    return conformal_daily_forecast(_t(spark, sf_dir, "events"))


def _ph_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_page_hinkley_daily,
    )

    return sql_page_hinkley_daily("events")


@query("page_hinkley_daily", _ph_oracle())
def page_hinkley_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector on daily event counts
    (timeseries.page_hinkley_daily): the streaming mean-shift monitor
    next to the offline changepoint split — three stacked running
    windows on the day grain."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        page_hinkley_daily,
    )

    return page_hinkley_daily(_t(spark, sf_dir, "events"))


def _qte_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_qte_metric,
    )

    return sql_qte_metric("events")


@query("qte_purchase_value", _qte_oracle())
def qte_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects on per-user purchase value
    (experiment.qte_metric): where in the outcome distribution the arms
    differ — cents-quantized exact percentiles per arm off one
    user-grain fold."""
    from asctb_ct_label_mapper_spark.operators.experiment import qte_metric

    return qte_metric(_t(spark, sf_dir, "events"))


def _qsweep_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_quality_threshold_sweep,
    )

    return sql_quality_threshold_sweep("documents")


@query("quality_sweep_docs", _qsweep_oracle())
def quality_sweep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve over the Gopher/C4 rule score
    (curation.quality_threshold_sweep): docs and token share surviving
    each min-rules-passed cutoff — the curation planner table; one
    quality_rules scan + a 6-row grid fold."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        quality_threshold_sweep,
    )

    return quality_threshold_sweep(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# r12d batch: eigenvector centrality, paired/post-stratified experiments,
# Theta forecast, Mann-Kendall trend, Gumbel extremes, closed-form 2-OLS
# ---------------------------------------------------------------------------


def _eigen_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_eigenvector_centrality,
        sql_nation_trade_edges,
    )

    return (
        f"WITH {sql_nation_trade_edges()}, "
        f"{sql_eigenvector_centrality(iters=12)}"
    )


@query("eigenvector_nation_trade", _eigen_oracle())
def eigenvector_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality on the nation trade digraph
    (graph.eigenvector_centrality): undamped prestige — central only if
    your in-neighbors are central — next to pagerank's teleport floor;
    L1 power iteration folded on the driver over the dimension-grain
    edge list under the bounded-collect guard, oracle = the same
    iteration unrolled into materialized CTEs."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        eigenvector_centrality,
    )

    return eigenvector_centrality(_trade_edges(spark, sf_dir), iters=12)


def _mcnemar_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_mcnemar_conversion_shift,
    )

    return sql_mcnemar_conversion_shift("events")


@query("mcnemar_purchase_shift", _mcnemar_oracle())
def mcnemar_purchase_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on per-user conversion across the two
    halves of the window (experiment.mcnemar_conversion_shift): each
    user as their own control, discordant cells only — one user-grain
    fold, continuity-corrected chi2, shared A&S p-value."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        mcnemar_conversion_shift,
    )

    return mcnemar_conversion_shift(_t(spark, sf_dir, "events"))


def _poststrat_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_post_stratified_ab,
    )

    return sql_post_stratified_ab("events")


@query("post_stratified_purchase", _poststrat_oracle())
def post_stratified_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B estimate of per-user purchase value
    (experiment.post_stratified_ab): activity-tier strata re-weighting
    next to CUPED's covariate adjustment — one user fold, ≤6-row strata
    aggregate, one-row combine."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        post_stratified_ab,
    )

    return post_stratified_ab(_t(spark, sf_dir, "events"))


def _theta_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_theta_forecast_daily,
    )

    return sql_theta_forecast_daily("events")


@query("theta_forecast_events", _theta_oracle())
def theta_forecast_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method 7-day forecast of daily event counts
    (timeseries.theta_forecast_daily): trend line + closed-form SES of
    the θ=2 line averaged — the M3 classic beside the Holt/HW/naive
    backtest family; one fact pass, day-grain everything after."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        theta_forecast_daily,
    )

    return theta_forecast_daily(_t(spark, sf_dir, "events"))


def _mk_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_mann_kendall_daily,
    )

    return sql_mann_kendall_daily("events")


@query("mann_kendall_daily_events", _mk_oracle())
def mann_kendall_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily count series
    (stats.mann_kendall_daily): the distribution-free significance gate
    in front of theilsen_daily_trend's Sen-slope magnitude — day-grain
    pair census, tie-corrected variance, shared A&S p-value."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        mann_kendall_daily,
    )

    return mann_kendall_daily(_t(spark, sf_dir, "events"))


def _gumbel_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_gumbel_block_maxima,
    )

    return sql_gumbel_block_maxima("events")


@query("gumbel_weekly_peaks", _gumbel_oracle())
def gumbel_weekly_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel return levels from weekly block maxima of daily counts
    (stats.gumbel_block_maxima): method-of-moments extreme-value fit —
    the once-a-month/quarter/year peak the capacity plan budgets for;
    block-grain max + one-row moments + parameter grid."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        gumbel_block_maxima,
    )

    return gumbel_block_maxima(_t(spark, sf_dir, "events"))


def _ols2_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_ols_two_feature,
    )

    return sql_ols_two_feature("events")


@query("ols_views_clicks_purchase", _ols2_oracle())
def ols_views_clicks_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-feature OLS (stats.ols_two_feature): per-user
    purchase value on view and click counts via Cramer-solved normal
    equations — which engagement signal predicts spend holding the
    other fixed; nine sums, four determinants, no iteration."""
    from asctb_ct_label_mapper_spark.operators.stats import ols_two_feature

    return ols_two_feature(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r12e batch: Monroe log-odds, EMD length matrix, seasonality strength
# ---------------------------------------------------------------------------


def _monroe_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_monroe_logodds,
    )

    return sql_monroe_logodds("documents")


@query("monroe_logodds_sources", _monroe_oracle())
def monroe_logodds_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fightin'-Words distinctive tokens per source
    (textstats.monroe_logodds): informative-Dirichlet-shrunk log-odds
    z-scores, top-3 per source — WHICH tokens make a source drift,
    the token-level companion to corpus_divergence's scalar JSD."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        monroe_logodds,
    )

    return monroe_logodds(_t(spark, sf_dir, "documents"))


def _emd_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_emd_length_matrix,
    )

    return sql_emd_length_matrix("documents")


@query("emd_doclen_sources", _emd_oracle())
def emd_doclen_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Wasserstein-1 between source doc-length distributions
    (textstats.emd_length_matrix): exact step-integrated CDF distance
    on the discrete support — transport cost, not just divergence."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        emd_length_matrix,
    )

    return emd_length_matrix(_t(spark, sf_dir, "documents"))


def _seastr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_seasonality_strength_daily,
    )

    return sql_seasonality_strength_daily("events")


@query("seasonality_strength_events", _seastr_oracle())
def seasonality_strength_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Periodogram seasonality scan of daily counts
    (timeseries.seasonality_strength_daily): variance share explained
    by each candidate period 2..14 — measures the period=7 assumption
    seasonal_decompose takes on faith."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        seasonality_strength_daily,
    )

    return seasonality_strength_daily(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r12f batch: Markov steady state, Chow test, Adamic-Adar, Neyman sampling
# ---------------------------------------------------------------------------


def _steady_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_markov_steady_state,
    )

    return f"WITH {sql_markov_steady_state('events', iters=30)}"


@query("markov_steady_state_events", _steady_oracle())
def markov_steady_state_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Long-run event-type mix of the user transition chain
    (behavior.markov_steady_state): π ← πP iterated from uniform over
    the dimension-grain matrix — driver fold under the bounded-collect
    guard, oracle = the same iteration unrolled into CTEs."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_steady_state,
    )

    return markov_steady_state(_t(spark, sf_dir, "events"), iters=30)


def _chow_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_chow_test_daily,
    )

    return sql_chow_test_daily("events")


@query("chow_test_daily_events", _chow_oracle())
def chow_test_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break F-test at the window midpoint
    (timeseries.chow_test_daily): does one trend line explain both
    halves — the confirmatory companion to changepoint_daily_events;
    one 3-segment conditional aggregate off the day spine."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        chow_test_daily,
    )

    return chow_test_daily(_t(spark, sf_dir, "events"))


def _aa_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_adamic_adar_topk,
    )

    return (
        f"WITH {_sql_trade_edges_filtered()}, "
        f"{sql_adamic_adar_topk(topk=15)}"
    )


@query("adamic_adar_trade", _aa_oracle())
def adamic_adar_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the symmetrized trade graph
    (graph.adamic_adar_topk): common partners weighted 1/ln(degree) —
    rarer shared partners say more; shared-neighbor census, never
    all-pairs; is_edge flags already-connected pairs."""
    from asctb_ct_label_mapper_spark.operators.graph import adamic_adar_topk

    return adamic_adar_topk(_trade_edges_filtered(spark, sf_dir), topk=15)


def _neyman_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.curation import (
        sql_neyman_allocation,
    )

    return sql_neyman_allocation("events")


@query("neyman_sample_events", _neyman_oracle())
def neyman_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling plan + deterministic draw
    (curation.neyman_allocation): budget ∝ N_h·S_h per event type,
    drawn by md5-bucket filter (the stratified_sample reproducibility
    contract — no fact-grain sort)."""
    from asctb_ct_label_mapper_spark.operators.curation import (
        neyman_allocation,
    )

    return neyman_allocation(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r12g batch: IV/Wald causal estimate, PACF, Hurst exponent
# ---------------------------------------------------------------------------


def _iv_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_iv_wald_estimate,
    )

    return sql_iv_wald_estimate("events")


@query("iv_wald_view_purchase", _iv_oracle())
def iv_wald_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable Wald estimate of view count's effect on
    purchase value (experiment.iv_wald_estimate): arm as the random
    instrument, ITT rescaled by the first stage — the causal dose
    answer OLS confounds; one user fold, 2-arm aggregate."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        iv_wald_estimate,
    )

    return iv_wald_estimate(_t(spark, sf_dir, "events"))


def _pacf_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_pacf_daily

    return sql_pacf_daily("events")


@query("pacf_daily_events", _pacf_oracle())
def pacf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1-3 (stats.pacf_daily):
    Durbin-Levinson unrolled to closed form over global-mean
    autocovariances — the AR-order probe next to autocorr_daily_events;
    three lag windows folded in one aggregate."""
    from asctb_ct_label_mapper_spark.operators.stats import pacf_daily

    return pacf_daily(_t(spark, sf_dir, "events"))


def _hurst_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_hurst_rs_daily,
    )

    return sql_hurst_rs_daily("events")


@query("hurst_daily_events", _hurst_oracle())
def hurst_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis
    (timeseries.hurst_rs_daily): per-block R/S over three block sizes,
    log-log OLS slope — persistence vs mean reversion of the daily
    series; partitioned block windows, never a global sort."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        hurst_rs_daily,
    )

    return hurst_rs_daily(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r12h batch: Granger causality, sBG retention projection, entropy rate
# ---------------------------------------------------------------------------


def _granger_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_granger_daily

    return sql_granger_daily("view", "purchase")


@query("granger_view_purchase", _granger_oracle())
def granger_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger(1) predictive causality from daily views to daily
    purchases (stats.granger_daily): does yesterday's view count add
    forecast power beyond purchase history — restricted-vs-Cramer
    unrestricted SSEs off one 11-sum aggregate on the shared pair
    spine; the directional upgrade of xcorr_view_purchase."""
    from asctb_ct_label_mapper_spark.operators.stats import granger_daily

    return granger_daily(_t(spark, sf_dir, "events"), "view", "purchase")


def _sbg_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_sbg_retention_projection,
    )

    return sql_sbg_retention_projection("events")


@query("sbg_retention_events", _sbg_oracle())
def sbg_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted-beta-geometric retention projection
    (behavior.sbg_retention_projection): closed-form Fader-Hardie fit
    from the first two weekly survival shares, unrolled survival
    product — the principled extrapolation next to the empirical
    cohort_retention_events triangle."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sbg_retention_projection,
    )

    return sbg_retention_projection(_t(spark, sf_dir, "events"))


def _mer_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_markov_entropy_rate,
    )

    return f"WITH {sql_markov_entropy_rate('events', iters=30)}"


@query("markov_entropy_rate_events", _mer_oracle())
def markov_entropy_rate_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate of the behavior chain (behavior.markov_entropy_rate):
    −Σ π_i p_ij ln p_ij over the steady state — next-event
    predictability as one number, perplexity = effective branching
    factor; driver fold + unrolled-CTE oracle."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        markov_entropy_rate,
    )

    return markov_entropy_rate(_t(spark, sf_dir, "events"), iters=30)


# ---------------------------------------------------------------------------
# r12i batch: Heaps fit, audience overlap, dispersion test, journey distance
# ---------------------------------------------------------------------------


def _heaps_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import sql_heaps_fit

    return sql_heaps_fit("documents")


@query("heaps_fit_docs", _heaps_oracle())
def heaps_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law (K, β) fit of the vocabulary-growth curve
    (textstats.heaps_fit): log-log OLS over the single-pass
    vocab_growth shards — the extrapolation numbers a 100 TB ingest
    sizes dictionaries and sketches with."""
    from asctb_ct_label_mapper_spark.operators.textstats import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"))


def _overlap_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_audience_overlap_weekly,
    )

    return sql_audience_overlap_weekly("events")


@query("audience_overlap_weeks", _overlap_oracle())
def audience_overlap_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact week-over-week active-user Jaccard + retained share
    (behavior.audience_overlap_weekly): the ground truth the
    kmv_setops_user_days sketch estimates — one (user, week) distinct
    fold, shifted self-join, union identity."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        audience_overlap_weekly,
    )

    return audience_overlap_weekly(_t(spark, sf_dir, "events"))


def _disp_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_dispersion_test_by_type,
    )

    return sql_dispersion_test_by_type("events")


@query("dispersion_test_event_types", _disp_oracle())
def dispersion_test_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Variance-to-mean index-of-dispersion test per event type
    (stats.dispersion_test_by_type): the is-it-even-Poisson gate in
    front of rate CIs / p-charts; Fisher's χ² normal approximation via
    the shared A&S polynomial."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        dispersion_test_by_type,
    )

    return dispersion_test_by_type(_t(spark, sf_dir, "events"))


def _jdist_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.funnel import (
        sql_journey_distance_matrix,
    )

    return sql_journey_distance_matrix("events")


@query("journey_distance_events", _jdist_oracle())
def journey_distance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Levenshtein between the 10 most common daily journeys
    (funnel.journey_distance_matrix): which frequent paths are one
    edit apart — the user_journeys assembly on a one-letter alphabet,
    then a broadcast k² pair cross."""
    from asctb_ct_label_mapper_spark.operators.funnel import (
        journey_distance_matrix,
    )

    return journey_distance_matrix(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r12j batch: Friedman, Cronbach alpha, Ljung-Box, runs test
# ---------------------------------------------------------------------------


def _friedman_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_friedman_test_daily_types,
    )

    return sql_friedman_test_daily_types("events")


@query("friedman_test_event_types", _friedman_oracle())
def friedman_test_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman rank test across event types with days as blocks
    (stats.friedman_test_daily_types): the nonparametric
    repeated-measures ANOVA — within-day orderings, immune to
    day-level traffic scale; per-day rank windows, never global."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        friedman_test_daily_types,
    )

    return friedman_test_daily_types(_t(spark, sf_dir, "events"))


def _cronbach_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_cronbach_alpha_daily_types,
    )

    return sql_cronbach_alpha_daily_types("events")


@query("cronbach_alpha_event_types", _cronbach_oracle())
def cronbach_alpha_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cronbach's α over the types' daily series
    (stats.cronbach_alpha_daily_types): do the event streams measure
    one traffic factor — the scalar companion to the pairwise
    correlation matrix; two moment folds off one spine."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        cronbach_alpha_daily_types,
    )

    return cronbach_alpha_daily_types(_t(spark, sf_dir, "events"))


def _lb_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_ljung_box_daily,
    )

    return sql_ljung_box_daily("events")


@query("ljung_box_daily_events", _lb_oracle())
def ljung_box_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test, lags 1-7 (stats.ljung_box_daily):
    the joint any-autocorrelation gate in front of the per-lag
    ACF/PACF readouts; seven lag windows folded in one aggregate."""
    from asctb_ct_label_mapper_spark.operators.stats import ljung_box_daily

    return ljung_box_daily(_t(spark, sf_dir, "events"))


def _runs_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_runs_test_daily,
    )

    return sql_runs_test_daily("events")


@query("runs_test_daily_events", _runs_oracle())
def runs_test_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test vs the median day
    (stats.runs_test_daily): regime clustering vs oscillation — the
    sign-only randomness check beside the autocorrelation family;
    order-statistic median, one lag window, one-row moments."""
    from asctb_ct_label_mapper_spark.operators.stats import runs_test_daily

    return runs_test_daily(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r12k batch: Kruskal-Wallis + Brown-Forsythe
# ---------------------------------------------------------------------------


def _kw_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_kruskal_wallis_value_by_type,
    )

    return sql_kruskal_wallis_value_by_type("events")


@query("kruskal_wallis_value_by_type", _kw_oracle())
def kruskal_wallis_value_by_type_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H across event types on value
    (stats.kruskal_wallis_value_by_type): the k-group rank test
    completing the Mann-Whitney/Friedman family — value-grain rank
    construction, nothing fact-grain sorted."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        kruskal_wallis_value_by_type,
    )

    return kruskal_wallis_value_by_type(_t(spark, sf_dir, "events"))


def _bf_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_brown_forsythe_value_by_type,
    )

    return sql_brown_forsythe_value_by_type("events")


@query("brown_forsythe_value_by_type", _bf_oracle())
def brown_forsythe_value_by_type_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe variance-equality test across event types
    (stats.brown_forsythe_value_by_type): ANOVA on |x − group median|
    with cents-exact medians — the assumption gate in front of the
    parametric ANOVA/pooled tests."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        brown_forsythe_value_by_type,
    )

    return brown_forsythe_value_by_type(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r13b: survival comparison + stratified/rate arm tests
# ---------------------------------------------------------------------------


def _logrank_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import sql_log_rank_arms

    return sql_log_rank_arms("events")


@query("log_rank_purchase_arms", _logrank_oracle())
def log_rank_purchase_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) comparison of the parity arms' signup->
    purchase survival curves (stats.log_rank_arms): the hypothesis test
    the KM/Nelson-Aalen CURVES need before anyone claims the arms
    differ."""
    from asctb_ct_label_mapper_spark.operators.stats import log_rank_arms

    return log_rank_arms(_t(spark, sf_dir, "events"))


def _rmst_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_rmst_restricted_mean,
    )

    return sql_rmst_restricted_mean("events", tau=14)


@query("rmst_purchase", _rmst_oracle())
def rmst_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau=14 days
    (stats.rmst_restricted_mean): area under the KM curve — the
    censoring-proof effect size for 'expected purchase-free days in
    the first two weeks'."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        rmst_restricted_mean,
    )

    return rmst_restricted_mean(_t(spark, sf_dir, "events"), tau=14)


def _cif_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_cumulative_incidence_competing,
    )

    return sql_cumulative_incidence_competing("events")


@query("cif_competing_events", _cif_oracle())
def cif_competing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence with purchase and error as
    COMPETING first events after signup
    (stats.cumulative_incidence_competing) — the estimator that does
    not overstate either incidence by censoring its competitor."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        cumulative_incidence_competing,
    )

    return cumulative_incidence_competing(_t(spark, sf_dir, "events"))


def _mh_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_mantel_haenszel_or,
    )

    return sql_mantel_haenszel_or("events")


@query("mh_odds_ratio_purchase", _mh_oracle())
def mh_odds_ratio_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across activity strata
    (experiment.mantel_haenszel_or): the Simpson's-paradox-proof 2x2
    pool the collapsed contingency table cannot give."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        mantel_haenszel_or,
    )

    return mantel_haenszel_or(_t(spark, sf_dir, "events"))


def _poisson_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_poisson_rate_test,
    )

    return sql_poisson_rate_test("events")


@query("poisson_rate_purchase", _poisson_oracle())
def poisson_rate_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test on per-arm purchase COUNTS
    (experiment.poisson_rate_test): the un-collapsed sibling of the
    two-proportion test — sensitive to repeat purchasing, not just
    conversion."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        poisson_rate_test,
    )

    return poisson_rate_test(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r13c: distribution-shape arm comparisons + normality gate
# ---------------------------------------------------------------------------


def _cvm_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_cramer_von_mises_arms,
    )

    return sql_cramer_von_mises_arms("events")


@query("cvm_purchase_arms", _cvm_oracle())
def cvm_purchase_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises on the per-user purchase metric
    (experiment.cramer_von_mises_arms): the integrated-ECDF-gap test
    that sees shape shifts KS under-weights."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        cramer_von_mises_arms,
    )

    return cramer_von_mises_arms(_t(spark, sf_dir, "events"))


def _cliffs_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_cliffs_delta_arms,
    )

    return sql_cliffs_delta_arms("events")


@query("cliffs_delta_purchase", _cliffs_oracle())
def cliffs_delta_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size between arms
    (experiment.cliffs_delta_arms): probability-of-superiority
    difference off value-grain cumulative pair counts — the effect
    size the Mann-Whitney p-value needs next to it."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        cliffs_delta_arms,
    )

    return cliffs_delta_arms(_t(spark, sf_dir, "events"))


def _hl_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_hodges_lehmann_shift,
    )

    return sql_hodges_lehmann_shift("events")


@query("hodges_lehmann_purchase", _hl_oracle())
def hodges_lehmann_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location shift between arms
    (experiment.hodges_lehmann_shift): exact weighted median of all
    pairwise differences off the cents value grain — never an n1×n0
    user-pair join."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        hodges_lehmann_shift,
    )

    return hodges_lehmann_shift(_t(spark, sf_dir, "events"))


def _jb_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_jarque_bera_value,
    )

    return sql_jarque_bera_value(
        "events", where="event_type = 'purchase'"
    )


@query("jarque_bera_purchase_values", _jb_oracle())
def jarque_bera_purchase_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jarque-Bera normality test on purchase values
    (stats.jarque_bera_value): the moments gate with the chi2(2) tail
    closed-form on both engines."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        jarque_bera_value,
    )

    return jarque_bera_value(
        _t(spark, sf_dir, "events"),
        where=F.col("event_type") == "purchase",
    )


# ---------------------------------------------------------------------------
# r13d: daily-series diagnostics
# ---------------------------------------------------------------------------


def _pettitt_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_pettitt_changepoint_daily,
    )

    return sql_pettitt_changepoint_daily("events")


@query("pettitt_change_daily", _pettitt_oracle())
def pettitt_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint on daily counts
    (timeseries.pettitt_changepoint_daily): the non-parametric 'where
    did the level shift' next to CUSUM/Chow."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        pettitt_changepoint_daily,
    )

    return pettitt_changepoint_daily(_t(spark, sf_dir, "events"))


def _buishand_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_buishand_range_daily,
    )

    return sql_buishand_range_daily("events")


@query("buishand_range_daily", _buishand_oracle())
def buishand_range_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Buishand rescaled-range homogeneity test
    (timeseries.buishand_range_daily)."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        buishand_range_daily,
    )

    return buishand_range_daily(_t(spark, sf_dir, "events"))


def _vn_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_von_neumann_ratio_daily,
    )

    return sql_von_neumann_ratio_daily("events")


@query("von_neumann_daily", _vn_oracle())
def von_neumann_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Neumann successive-difference ratio
    (timeseries.von_neumann_ratio_daily): the serial-independence
    check behind every iid assumption downstream."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        von_neumann_ratio_daily,
    )

    return von_neumann_ratio_daily(_t(spark, sf_dir, "events"))


def _coxstuart_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_cox_stuart_trend_daily,
    )

    return sql_cox_stuart_trend_daily("events")


@query("cox_stuart_daily", _coxstuart_oracle())
def cox_stuart_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart paired sign test for monotone trend
    (timeseries.cox_stuart_trend_daily): Mann-Kendall's O(n)
    cousin."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        cox_stuart_trend_daily,
    )

    return cox_stuart_trend_daily(_t(spark, sf_dir, "events"))


def _vr_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_variance_ratio_daily,
    )

    return sql_variance_ratio_daily("events", q=5)


@query("variance_ratio_daily", _vr_oracle())
def variance_ratio_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lo-MacKinlay variance ratio at q=5 on daily increments
    (timeseries.variance_ratio_daily): random-walk vs
    momentum/mean-reversion."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        variance_ratio_daily,
    )

    return variance_ratio_daily(_t(spark, sf_dir, "events"), q=5)


def _dw_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_durbin_watson_daily,
    )

    return sql_durbin_watson_daily("events")


@query("durbin_watson_daily", _dw_oracle())
def durbin_watson_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Durbin-Watson on the daily OLS-trend residuals
    (timeseries.durbin_watson_daily): can the trend's standard errors
    be believed."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        durbin_watson_daily,
    )

    return durbin_watson_daily(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r13e: circular time-of-day, inter-event distribution, Croston
# ---------------------------------------------------------------------------


def _circ_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_circular_hour_stats,
    )

    return sql_circular_hour_stats("events")


@query("circular_hours_by_type", _circ_oracle())
def circular_hours_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean hour + Rayleigh uniformity per event type
    (behavior.circular_hour_stats): time-of-day as an angle, not an
    arithmetic hour."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        circular_hour_stats,
    )

    return circular_hour_stats(_t(spark, sf_dir, "events"))


def _iet_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.behavior import (
        sql_interevent_exponential_fit,
    )

    return sql_interevent_exponential_fit("events")


@query("interevent_exp_fit", _iet_oracle())
def interevent_exp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gaps vs the exponential null with a value-grain KS
    sup (behavior.interevent_exponential_fit): is arrival Poisson or
    bursty."""
    from asctb_ct_label_mapper_spark.operators.behavior import (
        interevent_exponential_fit,
    )

    return interevent_exponential_fit(_t(spark, sf_dir, "events"))


def _croston_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_croston_intermittent_daily,
    )

    return sql_croston_intermittent_daily("events")


@query("croston_error_daily", _croston_oracle())
def croston_error_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast on the sparse error
    series (timeseries.croston_intermittent_daily): SES on sizes and
    intervals separately, closed-form weights on both engines."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        croston_intermittent_daily,
    )

    return croston_intermittent_daily(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r13f: stylometry + keyphrases
# ---------------------------------------------------------------------------


def _burrows_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_burrows_delta_sources,
    )

    return sql_burrows_delta_sources("documents")


@query("burrows_delta_sources", _burrows_oracle())
def burrows_delta_sources_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burrows' Delta stylometric distance between sources
    (textstats.burrows_delta_sources): z-scored function-word profiles
    over the top-50 corpus words, pairwise mean |z-gap|."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        burrows_delta_sources,
    )

    return burrows_delta_sources(_t(spark, sf_dir, "documents"))


def _yule_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_vocab_concentration_sources,
    )

    return sql_vocab_concentration_sources("documents")


@query("vocab_concentration_sources", _yule_oracle())
def vocab_concentration_sources_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Yule's K + Simpson's D per source
    (textstats.vocab_concentration_sources): length-invariant
    repetitiveness — the template-detection triage signal."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        vocab_concentration_sources,
    )

    return vocab_concentration_sources(_t(spark, sf_dir, "documents"))


def _rake_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.textstats import (
        sql_rake_keyphrases,
    )

    return sql_rake_keyphrases("documents", k=20)


@query("rake_keyphrases_docs", _rake_oracle())
def rake_keyphrases_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (textstats.rake_keyphrases):
    stopword-delimited candidate phrases scored by deg/freq word
    statistics — the multi-word-term complement to TextRank."""
    from asctb_ct_label_mapper_spark.operators.textstats import (
        rake_keyphrases,
    )

    return rake_keyphrases(_t(spark, sf_dir, "documents"), k=20)


# ---------------------------------------------------------------------------
# r13g: subsequence analytics
# ---------------------------------------------------------------------------


def _mp_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_matrix_profile_discords,
    )

    return sql_matrix_profile_discords("events", w=7, top=3)


@query("matrix_profile_discords", _mp_oracle())
def matrix_profile_discords_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 matrix-profile discords of the daily series
    (timeseries.matrix_profile_discords): the weeks whose shape
    happened nowhere else — subsequence anomaly detection."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        matrix_profile_discords,
    )

    return matrix_profile_discords(_t(spark, sf_dir, "events"), w=7, top=3)


def _spec_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_spectral_entropy_daily,
    )

    return sql_spectral_entropy_daily("events")


@query("spectral_entropy_daily", _spec_oracle())
def spectral_entropy_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Normalized spectral entropy of the daily series
    (timeseries.spectral_entropy_daily): how forecastable is traffic,
    in one number."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        spectral_entropy_daily,
    )

    return spectral_entropy_daily(_t(spark, sf_dir, "events"))


def _sampen_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sql_sample_entropy_daily,
    )

    return sql_sample_entropy_daily("events")


@query("sample_entropy_daily", _sampen_oracle())
def sample_entropy_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sample entropy of the daily series
    (timeseries.sample_entropy_daily): Richman-Moorman regularity."""
    from asctb_ct_label_mapper_spark.operators.timeseries import (
        sample_entropy_daily,
    )

    return sample_entropy_daily(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r13h: robust / permutation / paired-categorical arm tests
# ---------------------------------------------------------------------------


def _yuen_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_yuen_trimmed_t,
    )

    return sql_yuen_trimmed_t("events")


@query("yuen_trimmed_purchase", _yuen_oracle())
def yuen_trimmed_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen 20%-trimmed Welch between arms (experiment.yuen_trimmed_t):
    exact order-statistic trim + winsorized moments off the value
    grain."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        yuen_trimmed_t,
    )

    return yuen_trimmed_t(_t(spark, sf_dir, "events"))


def _perm_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_permutation_test_mean,
    )

    return sql_permutation_test_mean("events", n_perms=200)


@query("perm_test_purchase", _perm_oracle())
def perm_test_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded (md5) permutation test of the arm mean gap
    (experiment.permutation_test_mean): 200 deterministic pseudo-arm
    reassignments, assumption-free p."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        permutation_test_mean,
    )

    return permutation_test_mean(_t(spark, sf_dir, "events"), n_perms=200)


def _cq_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_cochran_q_periods,
    )

    return sql_cochran_q_periods("events")


@query("cochran_q_purchase", _cq_oracle())
def cochran_q_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three window thirds
    (experiment.cochran_q_periods): the k-period McNemar with the
    chi2(2) closed-form tail."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        cochran_q_periods,
    )

    return cochran_q_periods(_t(spark, sf_dir, "events"))


def _ca_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.experiment import (
        sql_cochran_armitage_trend,
    )

    return sql_cochran_armitage_trend("events")


@query("cochran_armitage_tiers", _ca_oracle())
def cochran_armitage_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage conversion trend across ordered activity tiers
    (experiment.cochran_armitage_trend): the dose-response test the
    unordered chi-square wastes power on."""
    from asctb_ct_label_mapper_spark.operators.experiment import (
        cochran_armitage_trend,
    )

    return cochran_armitage_trend(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r13i: local clustering, eccentricity, resource-allocation links
# ---------------------------------------------------------------------------


def _lcc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_local_clustering_topk,
    )

    return (
        f"WITH {_sql_trade_edges_filtered()}, "
        f"{sql_local_clustering_topk(topk=25)}"
    )


@query("local_clustering_trade", _lcc_oracle())
def local_clustering_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient on the strong-trade subgraph
    (graph.local_clustering_topk): which markets sit in cliques vs
    stars — the local readout the global coefficient averages away."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        local_clustering_topk,
    )

    return local_clustering_topk(
        _trade_edges_filtered(spark, sf_dir), topk=25
    )


def _ecc_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_graph_eccentricity,
    )

    return (
        f"WITH {_sql_trade_edges_filtered()}, "
        f"{sql_graph_eccentricity()}"
    )


@query("eccentricity_trade", _ecc_oracle())
def eccentricity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node eccentricity + reach on the strong-trade subgraph
    (graph.graph_eccentricity): diameter/radius read straight off the
    rows; driver-local BFS under the bounded-collect guard, replayed
    by a recursive-CTE BFS on DuckDB."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        graph_eccentricity,
    )

    return graph_eccentricity(_trade_edges_filtered(spark, sf_dir))


def _ra_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.graph import (
        sql_resource_allocation_topk,
    )

    return (
        f"WITH {_sql_trade_edges_filtered()}, "
        f"{sql_resource_allocation_topk(topk=15)}"
    )


@query("resource_alloc_trade", _ra_oracle())
def resource_alloc_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation + preferential-attachment link scores on
    the strong-trade subgraph (graph.resource_allocation_topk):
    AA's hub-hostile sibling with the null-model baseline column."""
    from asctb_ct_label_mapper_spark.operators.graph import (
        resource_allocation_topk,
    )

    return resource_allocation_topk(
        _trade_edges_filtered(spark, sf_dir), topk=15
    )


# ---------------------------------------------------------------------------
# r13j: distribution distances + feature ranking
# ---------------------------------------------------------------------------


def _hell_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_hellinger_dow_pairs,
    )

    return sql_hellinger_dow_pairs("events")


@query("hellinger_dow_pairs", _hell_oracle())
def hellinger_dow_pairs_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Hellinger / Bhattacharyya between event types over
    day-of-week distributions (stats.hellinger_dow_pairs): a bounded
    metric on weekly rhythms."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        hellinger_dow_pairs,
    )

    return hellinger_dow_pairs(_t(spark, sf_dir, "events"))


def _mi_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_mutual_info_type_dow,
    )

    return sql_mutual_info_type_dow("events")


@query("mutual_info_type_dow", _mi_oracle())
def mutual_info_type_dow_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information + NMI between event type and day-of-week
    (stats.mutual_info_type_dow): the information-theoretic readout
    next to chi2/Cramér's V."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        mutual_info_type_dow,
    )

    return mutual_info_type_dow(_t(spark, sf_dir, "events"))


def _ig_oracle() -> str:
    from asctb_ct_label_mapper_spark.operators.stats import (
        sql_info_gain_features,
    )

    return sql_info_gain_features("events")


@query("info_gain_features", _ig_oracle())
def info_gain_features_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Information-gain ranking of engine-derived user features vs
    conversion (stats.info_gain_features): the propensity-model
    feature triage with Quinlan's gain-ratio correction."""
    from asctb_ct_label_mapper_spark.operators.stats import (
        info_gain_features,
    )

    return info_gain_features(_t(spark, sf_dir, "events"))
