"""Association measures (M1-M4) vs the reference oracle."""

import math

import pytest

from semantic_similarity_system_using_aws_mapreduce_spark.operators.assoc import association_measures, joined_counts
from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts
from semantic_similarity_system_using_aws_mapreduce_spark.sources.biarcs import read_biarcs, token_emissions

from reference_oracle import assoc_measures as oracle_assoc
from reference_oracle import reference_input, step1_counts

SMALL_SAMPLE = reference_input("/root/reference/small-sample.txt")

REL_TOL = 1e-12


@pytest.fixture(scope="module")
def counts(spark):
    corpus = read_biarcs(spark, SMALL_SAMPLE)
    return corpus_counts(token_emissions(corpus))


def test_joined_counts(spark, counts):
    oracle, _ = step1_counts(open(SMALL_SAMPLE).read().splitlines())
    rows = {
        (r.lexeme, r.feature): (r.lf_count, r.l_count, r.f_count)
        for r in joined_counts(counts).collect()
    }
    expected = {
        (k[1], k[2]): (v, oracle[("l", k[1])], oracle[("f", k[2])])
        for k, v in oracle.items()
        if k[0] == "lf"
    }
    assert rows == expected


@pytest.mark.parametrize("mode", ["parity", "standard"])
def test_assoc_measures(spark, counts, mode):
    oracle_counts, total = step1_counts(open(SMALL_SAMPLE).read().splitlines())
    expected = oracle_assoc(oracle_counts, total, mode=mode)
    got = {
        (r.lexeme, r.feature): (r.assoc_freq, r.assoc_prob, r.assoc_pmi, r.assoc_ttest)
        for r in association_measures(counts, mode=mode).collect()
    }
    assert set(got) == set(expected)
    for key, exp in expected.items():
        for g, e in zip(got[key], exp):
            assert math.isclose(g, e, rel_tol=REL_TOL), (key, got[key], exp)
