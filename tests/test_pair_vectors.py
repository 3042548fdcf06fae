"""Pair-vector stage (J3, J4, A5, D1-D6) vs the reference oracle, end
to end: the engine's vectors equal the oracle's for one biarcs corpus
against a four-pair and a hub-shaped gold standard (the reference's
sample inputs where present, else their committed stand-ins)."""

import math

import pytest

from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import semantic_similarity_pipeline
from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS

from reference_oracle import assoc_measures as oracle_assoc
from reference_oracle import load_gold, pair_vectors as oracle_pair_vectors, reference_input, step1_counts

SMALL_SAMPLE = reference_input("/root/reference/small-sample.txt")
GOLD_SMALL = "/root/reference/test_gold_standard.txt"
GOLD_FULL = "/root/reference/word-relatedness.txt"

REL_TOL = 1e-9


def _oracle(gold_path, mode="parity"):
    counts, total = step1_counts(open(SMALL_SAMPLE).read().splitlines())
    assoc = oracle_assoc(counts, total, mode=mode)
    gold = load_gold(gold_path)
    return oracle_pair_vectors(assoc, gold, mode=mode)


@pytest.mark.parametrize("gold_path", [GOLD_SMALL, GOLD_FULL])
def test_pipeline_matches_reference_oracle(spark, gold_path):
    gold_path = reference_input(gold_path)
    expected = _oracle(gold_path)
    result = semantic_similarity_pipeline(
        spark, SMALL_SAMPLE, gold_path, mode="parity"
    )
    rows = result.vectors.collect()
    got = {(r.word1, r.word2, r.is_related): [r[c] for c in VECTOR_COLUMNS] for r in rows}
    assert set(got) == set(expected)
    for key, exp_vec in expected.items():
        for i, (g, e) in enumerate(zip(got[key], exp_vec)):
            assert math.isclose(g, e, rel_tol=REL_TOL, abs_tol=1e-12), (
                key,
                VECTOR_COLUMNS[i],
                g,
                e,
            )


def test_standard_mode_runs(spark):
    result = semantic_similarity_pipeline(
        spark, SMALL_SAMPLE, reference_input(GOLD_SMALL), mode="standard"
    )
    rows = result.vectors.collect()
    assert len(rows) == 4
    # standard-mode Euclidean is a real distance: 0 <= d, and for a
    # pair with itself-aligned features it's finite
    for r in rows:
        assert r.freq_dist_euclidean >= 0


def test_zero_fill_alignment(spark):
    """Hand-built micro-case: w1 has features {f1, f2}, w2 has {f2, f3}.
    Manhattan over freq = |1-0| + |2-5| + |0-7| = 11."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.pair_vectors import pair_vectors

    assoc = spark.createDataFrame(
        [
            ("w1", "f1", 1.0, 0.1, 1.0, 0.1),
            ("w1", "f2", 2.0, 0.2, 2.0, 0.2),
            ("w2", "f2", 5.0, 0.5, 5.0, 0.5),
            ("w2", "f3", 7.0, 0.7, 7.0, 0.7),
        ],
        ["lexeme", "feature", "assoc_freq", "assoc_prob", "assoc_pmi", "assoc_ttest"],
    )
    gold = spark.createDataFrame([("w1", "w2", True)], ["word1", "word2", "related"])
    row = pair_vectors(assoc, gold, mode="parity").collect()[0]
    assert row.word1 == "w1" and row.word2 == "w2" and row.is_related is True
    assert math.isclose(row.freq_dist_manhattan, 11.0)
    # parity Euclidean: sqrt((1+0)^2 + (2+5)^2 + (0+7)^2) = sqrt(99)
    assert math.isclose(row.freq_dist_euclidean, math.sqrt(99.0))
    # cosine over freq: (1*0 + 2*5 + 0*7) / (sqrt(5) * sqrt(74))
    assert math.isclose(row.freq_sim_cosine, 10.0 / (math.sqrt(5) * math.sqrt(74)))
    # jaccard: (0 + 2 + 0) / (1 + 5 + 7)
    assert math.isclose(row.freq_sim_jaccard, 2.0 / 13.0)
    # dice: 2*2 / (1 + 7 + 7)
    assert math.isclose(row.freq_sim_dice, 4.0 / 15.0)
