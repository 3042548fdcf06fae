"""Library operators.

CACHE OWNERSHIP CONTRACT: some operators (lsh_candidates,
duplicate_spans, paragraph_dedup, prefix_jaccard_join,
simhash_near_dups, ann_topk_lsh_portable, dsir_select), and the
queries q_tfidf_top_terms and q_bm25_search, persist an
intermediate relation
that the RETURNED lazy DataFrame's plan consumes more than once — the
persist cannot be released before the caller materializes the result,
so these functions do NOT unpersist.  The blocks live in the session's
SQL cache: a short-lived job (the bench / driver pattern) lets the
ContextCleaner reclaim them at session end; a LONG-LIVED session
composing many queries must call ``spark.catalog.clearCache()``
between workloads (bench.py does, after every timed query), or
``df.unpersist()`` on the handle if it keeps a reference.
tests/test_cache_contract.py pins that a bench-style pass leaves zero
persisted blocks behind.
"""

from semantic_similarity_system_using_aws_mapreduce_spark.operators.ann import quantize_embeddings
from semantic_similarity_system_using_aws_mapreduce_spark.operators.assoc import association_measures, joined_counts
from semantic_similarity_system_using_aws_mapreduce_spark.operators.asof import asof_join
from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts
from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_hashes,
    simhash,
    simhash_near_dups,
)
from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import connected_components
from semantic_similarity_system_using_aws_mapreduce_spark.operators.pair_vectors import pair_feature_matrix, pair_vectors
from semantic_similarity_system_using_aws_mapreduce_spark.operators.similarity import similarity_measures
from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import (
    identify_language,
    rolling_fingerprint,
    token_stats,
)

__all__ = [
    "asof_join",
    "association_measures",
    "connected_components",
    "corpus_counts",
    "exact_dedup",
    "identify_language",
    "joined_counts",
    "lsh_candidates",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "pair_feature_matrix",
    "pair_vectors",
    "quantize_embeddings",
    "rolling_fingerprint",
    "shingle_hashes",
    "simhash",
    "simhash_near_dups",
    "similarity_measures",
    "token_stats",
]
