"""py_stringsimjoin_spark — PySpark-native string-similarity record linkage.

A brand-new Spark-first engine with the query capabilities of
anhaidgroup/py_stringsimjoin (reference at /root/reference, v0.3.6): threshold
similarity joins (Jaccard, cosine, Dice, overlap, overlap coefficient, edit
distance), composable blocking filters, an apply_matcher verifier, a join
profiler, plus the large-scale extensions a web-scale training-data pipeline
needs (dedup, ANN search, text stats, transitive clustering, checkpointed
resumable pipelines).
"""

from .functions.converters import dataframe_column_to_str, remove_non_ascii_col
from .functions.tokenizers import (
    AlphabeticTokenizer,
    AlphanumericTokenizer,
    DelimiterTokenizer,
    QgramTokenizer,
    ShingleTokenizer,
    WhitespaceTokenizer,
)
from .functions.media import (
    media_dims_col,
    media_duration_col,
    media_format_col,
    py_container_duration_ms,
    synth_media_bytes,
)
from .functions.pii import pii_counts, redact_pii, redact_pii_expr
from .functions.urls import (
    normalize_url,
    normalize_url_expr,
    url_host_expr,
    url_registrable_domain_expr,
)
from .operators.multimodal import attach_media_meta
from .operators.dedup import canonical_url_groups, plan_lsh_params
from .operators.band_join import band_join
from .operators.blocking import blocking_rule_stats, combine_blockers
from .operators.canonical import canonicalize_clusters, golden_record
from .operators.connected_components import connected_components, update_components
from .operators.label_propagation import label_propagation
from .operators.star_clustering import (
    merge_center_clustering,
    star_clustering,
)
from .operators.evaluation import (
    bcubed_metrics,
    blocking_metrics,
    evaluate_blocking,
    nmi_metrics,
    v_measure_metrics,
    vi_metrics,
    pr_curve,
    rand_metrics,
    sample_pairs_for_review,
)
from .operators.edit_distance_join import disk_edit_distance_join, edit_distance_join
from .operators.filters import (
    OverlapFilter,
    PositionFilter,
    PrefixFilter,
    SizeFilter,
    SuffixFilter,
)
from .operators.funnel import funnel
from .operators.fellegi_sunter import (
    add_tf_adjustment,
    agreement_vectors,
    classify_pairs,
    em_fit,
    exact_comparison,
    fellegi_sunter_link,
    jaccard_comparison,
    levenshtein_comparison,
    pattern_counts,
    score_pairs,
    term_frequency_table,
)
from .operators.learned import score_matches, train_matcher
from .operators.matcher import apply_matcher, featurize_pairs
from .operators.metablocking import (
    metablock_pairs,
    metablock_pairs_two_tables,
    token_blocks,
)
from .operators.containment_join import containment_join, containment_join_pairs
from .operators.asof_join import asof_join
from .operators.bm25 import bm25_topk, build_bm25_postings
from .operators.chunking import chunk_documents
from .operators.cluster_stats import (
    cluster_stats,
    hard_negatives,
    random_negative_pairs,
)
from .operators.containment_lsh import (
    containment_index_rows,
    containment_lsh_search,
)
from .operators.overlap_join import overlap_coefficient_join, overlap_join
from .operators.phonetic import soundex_blocking_pairs, soundex_column
from .operators.pii import pii_stats
from .operators.matching_utils import mutual_best_match, score_histogram
from .operators.medoid import cluster_medoid
from .operators.ann import brute_force_topk, expr_cosine_topk, lsh_topk
from .operators.fusion import rrf_fuse
from .operators.bpe import apply_bpe, train_bpe, train_bpe_df
from .operators.collocations import top_collocations
from .operators.contamination import contamination_pairs, contamination_report
from .operators.corpus_divergence import corpus_divergence
from .operators.corpus_report import corpus_report
from .operators.dictionary_tag import dictionary_tag
from .operators.mixing import domain_mix_sample, domain_quotas
from .operators.semdedup import semdedup
from .operators.winnowing import fingerprint_matches, winnow_fingerprints
from .operators.sessionize import session_stats, sessionize
from .operators.splits import assign_splits
from .operators.textclean import dedup_substrings, remove_boilerplate_lines
from .operators.textstats import (
    bigram_cross_entropy,
    doc_keywords,
    top_tokens,
    unigram_cross_entropy,
)
from .operators.prepared import PreparedSetSimCorpus
from .operators.profiler import profile_table_for_join
from .operators.set_sim_join import cosine_join, dice_join, jaccard_join, set_sim_join
from .operators.topk_join import topk_edit_distance_join, topk_sim_join
from .operators.weighted import soft_tfidf_score_pairs, tfidf_cosine_join
from .operators.weighted_sample import weighted_sample
from .plans.cache import engine_cache_scope, release_engine_caches
from .session import get_spark
from .sources.datasets import load_books_dataset, load_person_dataset

__version__ = "0.1.0"

__all__ = [
    "AlphabeticTokenizer",
    "AlphanumericTokenizer",
    "DelimiterTokenizer",
    "QgramTokenizer",
    "ShingleTokenizer",
    "WhitespaceTokenizer",
    "jaccard_join",
    "cosine_join",
    "dice_join",
    "overlap_join",
    "overlap_coefficient_join",
    "containment_join",
    "containment_join_pairs",
    "containment_index_rows",
    "containment_lsh_search",
    "bm25_topk",
    "build_bm25_postings",
    "asof_join",
    "cluster_stats",
    "hard_negatives",
    "random_negative_pairs",
    "chunk_documents",
    "edit_distance_join",
    "disk_edit_distance_join",
    "load_books_dataset",
    "load_person_dataset",
    "remove_non_ascii_col",
    "set_sim_join",
    "OverlapFilter",
    "SizeFilter",
    "PrefixFilter",
    "PositionFilter",
    "SuffixFilter",
    "apply_matcher",
    "bcubed_metrics",
    "blocking_metrics",
    "canonicalize_clusters",
    "golden_record",
    "combine_blockers",
    "band_join",
    "blocking_rule_stats",
    "evaluate_blocking",
    "sample_pairs_for_review",
    "tfidf_cosine_join",
    "soft_tfidf_score_pairs",
    "topk_edit_distance_join",
    "topk_sim_join",
    "PreparedSetSimCorpus",
    "profile_table_for_join",
    "connected_components",
    "label_propagation",
    "star_clustering",
    "merge_center_clustering",
    "brute_force_topk",
    "expr_cosine_topk",
    "lsh_topk",
    "rrf_fuse",
    "semdedup",
    "sessionize",
    "domain_mix_sample",
    "domain_quotas",
    "fingerprint_matches",
    "top_collocations",
    "weighted_sample",
    "winnow_fingerprints",
    "session_stats",
    "mutual_best_match",
    "score_histogram",
    "update_components",
    "agreement_vectors",
    "pattern_counts",
    "em_fit",
    "score_pairs",
    "classify_pairs",
    "fellegi_sunter_link",
    "term_frequency_table",
    "add_tf_adjustment",
    "exact_comparison",
    "levenshtein_comparison",
    "jaccard_comparison",
    "soundex_column",
    "soundex_blocking_pairs",
    "normalize_url",
    "normalize_url_expr",
    "url_host_expr",
    "url_registrable_domain_expr",
    "canonical_url_groups",
    "plan_lsh_params",
    "dataframe_column_to_str",
    "get_spark",
    "engine_cache_scope",
    "release_engine_caches",
    "featurize_pairs",
    "train_matcher",
    "score_matches",
    "metablock_pairs",
    "metablock_pairs_two_tables",
    "token_blocks",
    "nmi_metrics",
    "v_measure_metrics",
    "vi_metrics",
    "pr_curve",
    "rand_metrics",
    "pii_stats",
    "assign_splits",
    "redact_pii",
    "redact_pii_expr",
    "pii_counts",
    "dedup_substrings",
    "remove_boilerplate_lines",
    "apply_bpe",
    "bigram_cross_entropy",
    "doc_keywords",
    "contamination_pairs",
    "contamination_report",
    "cluster_medoid",
    "corpus_divergence",
    "corpus_report",
    "funnel",
    "dictionary_tag",
    "train_bpe",
    "train_bpe_df",
    "unigram_cross_entropy",
    "top_tokens",
    "attach_media_meta",
    "media_format_col",
    "media_dims_col",
    "media_duration_col",
    "py_container_duration_ms",
    "synth_media_bytes",
]
