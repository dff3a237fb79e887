"""Dump .explain('formatted') for a round's optimization targets into
plans/<round>/<query>_<tag>.txt (before/after plan files).

Usage: python tools/dump_round_plans.py <round> <tag> <sf_dir> [query ...]
e.g. ``python tools/dump_round_plans.py r16 before data/sf0.1``. The
round names the output directory and the Spark app
(``<round>-plan-dump``). With no query list, dumps the default target set.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from asctb_ct_label_mapper_spark.plans.audit import formatted_plan  # noqa: E402
from asctb_ct_label_mapper_spark.queries import all_queries  # noqa: E402
from asctb_ct_label_mapper_spark.session import get_spark  # noqa: E402

DEFAULT_TARGETS = [
    # headline heavy hitters (committed r13 bench, isolated re-runs)
    "graph_family_report",
    "pipeline_curate",
    "dedup_representatives",
    "cos_topk_ivfpq",
    "cos_topk_ivf_indexed",
    "dedup_embedding_groups",
    "dedup_incremental",
    "woe_iv_doclen_bucketed",
    "item_cf_parts",
    "dedup_minhash_quality",
    "assoc_rules_parts",
    "split_leakage_safe",
    "fs_linkage_parts",
    "copurchase_triangles",
    "vocab_growth_sketch",
    "vocab_growth_docs",
    "mapping_report",
    "cos_topk_hnsw",
    # docs-tier compute-bound
    "bigram_logppl_docs",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "tfidf_topk_docs",
    "cos_topk_blocked",
    "cos_topk_lsh",
    "unigram_logppl_docs",
    # rel10x-tier heavy
    "q21_waiting_suppliers",
    "q7_nation_volume",
    "q4_order_priority",
    "q10_returned_items",
    "q18_large_orders",
    # events-tier heavy
    "burstiness_hist_users",
    "holt_winters_users",
    "new_vs_returning_daily",
    "kmv_daily_users",
]


def main() -> None:
    rnd, tag, sf_dir = sys.argv[1:4]
    names = sys.argv[4:] or DEFAULT_TARGETS
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"{rnd}-plan-dump")
    registry = all_queries()
    for name in names:
        spark.catalog.clearCache()
        try:
            plan = formatted_plan(registry[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN DUMP FAILED: {e!r}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
