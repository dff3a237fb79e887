from asctb_ct_label_mapper_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    exact_dedup_flags,
    jaccard_expr,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_expr,
    simhash_near_dup_pairs,
    word_shingles_expr,
)
from asctb_ct_label_mapper_spark.operators.enrich import (
    enrich_with_definitions,
    normalize_ct_id_expr,
)
from asctb_ct_label_mapper_spark.operators.mapping import (
    map_labels_to_reference,
    overwrite_exact_matches,
)
from asctb_ct_label_mapper_spark.operators.multimodal import (
    decode_features,
    frame_sample,
    synthesize_media,
)
from asctb_ct_label_mapper_spark.operators.setops import venn_regions
from asctb_ct_label_mapper_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
    top_k_similarity_blocked,
    top_k_similarity_join,
)
from asctb_ct_label_mapper_spark.operators.skew import (
    salted_join,
    two_phase_distinct_count,
)
from asctb_ct_label_mapper_spark.operators.textstats import (
    fingerprint,
    lang_id,
    text_stats,
    winnowing_fingerprints,
)
from asctb_ct_label_mapper_spark.operators.unpivot import ct_triplet_unpivot
from asctb_ct_label_mapper_spark.operators.viz import (
    embedding_projection_2d,
    prepare_projection_input,
    save_scatter_png,
    save_venn_png,
)

__all__ = [
    "ct_triplet_unpivot",
    "decode_features",
    "enrich_with_definitions",
    "frame_sample",
    "normalize_ct_id_expr",
    "synthesize_media",
    "embedding_projection_2d",
    "prepare_projection_input",
    "save_scatter_png",
    "save_venn_png",
    "embedding_near_dup_pairs",
    "exact_dedup",
    "exact_dedup_flags",
    "fingerprint",
    "ivf_topk",
    "jaccard_expr",
    "lang_id",
    "lsh_bucketed_topk",
    "salted_join",
    "two_phase_distinct_count",
    "map_labels_to_reference",
    "minhash_dedup_pairs",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "overwrite_exact_matches",
    "simhash_expr",
    "simhash_near_dup_pairs",
    "text_stats",
    "top_k_similarity_blocked",
    "top_k_similarity_join",
    "venn_regions",
    "winnowing_fingerprints",
    "word_shingles_expr",
]
