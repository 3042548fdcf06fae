"""The operators' cache-ownership contract (operators/__init__.py):
library operators persist intermediates their lazy results consume,
and the CALLER releases them — bench.py clears the SQL cache after
every timed query.  This pins both halves: the persist really lands in
the session cache while a caching query materializes (so the contract
is about something real), and a bench-style pass leaves ZERO persisted
blocks behind (VERDICT r4 'Next round' #6)."""

import pytest

from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

SF_DIR = "/root/testdata/sf0.001"

# every exported query whose operator chain persists an intermediate
CACHING_QUERIES = [
    "q_minhash_lsh_candidates",   # lsh_candidates
    "q_duplicate_spans",          # duplicate_spans
    "q_simhash_near_dups",        # simhash_near_dups
    "q_exact_jaccard_join",       # prefix_jaccard_join
    "q_ann_lsh_topk",             # ann_topk_lsh_portable
    "q_dsir_select",              # dsir_select
    "q_bm25_search",              # the staged per-doc relation
    "q_tfidf_top_terms",          # the tf relation
    "q_containment_dups",         # prefix_containment_join
    "q_paragraph_dedup",          # paragraph_dedup (r6)
    # q_domain_rank is deliberately absent: pagerank's adaptive LOCAL
    # branch (taken at fixture scale) unpersists its own blocks before
    # returning, so a bench-style pass sees an already-clean cache
]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_bench_style_pass_leaves_no_persisted_blocks(spark, name):
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    df = ALL_QUERIES[name](spark, SF_DIR)
    df.count()
    # the operator really did persist through the session cache —
    # without this the clearCache below would be vacuous
    assert not _cache_empty(spark), f"{name} no longer persists; update the list"
    spark.catalog.clearCache()  # the bench.py per-query discipline
    assert _cache_empty(spark)
