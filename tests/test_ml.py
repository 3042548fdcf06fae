"""ML stage (ML1-ML3): RandomForest k-fold CV on pipeline output."""

import math
import random

import pytest

from semantic_similarity_system_using_aws_mapreduce_spark.ml.classify import (
    _roc_auc,
    cross_validate_random_forest,
)
from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS

from test_cache_contract import _cache_empty

N_VECTORS = 300


@pytest.fixture(scope="module")
def vectors(spark):
    """A seeded pair-vectors frame in the pipeline's schema: ~30%
    similar pairs, whose first 12 features are shifted by one standard
    deviation, and an occasional +inf as the D1/D2/D6 policy emits."""
    rng = random.Random(7)
    rows = []
    for i in range(N_VECTORS):
        related = rng.random() < 0.3
        feats = [rng.gauss(1.0 if related and c < 12 else 0.0, 1.0) for c in range(24)]
        if i % 37 == 0:
            feats[3] = math.inf
        rows.append((f"w{i}", f"v{i % 17}", related, *feats))
    schema = "word1 string, word2 string, is_related boolean, " + ", ".join(
        f"{c} double" for c in VECTOR_COLUMNS
    )
    return spark.createDataFrame(rows, schema)


def test_cross_validation(spark, vectors):
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    result = cross_validate_random_forest(vectors, n_folds=5, num_trees=20)
    try:
        m = result.metrics
        assert m["n"] == N_VECTORS
        assert -1.0 <= m["kappa"] <= 1.0
        tp, fn = m["confusion"][0]
        fp, tn = m["confusion"][1]
        assert tp + fn + fp + tn == m["n"]
        assert m["correct"] == tp + tn
        # every instance predicted exactly once, in the fold it was held out of
        preds = result.predictions
        assert preds.count() == preds.select("word1", "word2").distinct().count() == N_VECTORS
        assert {r.fold for r in preds.select("fold").distinct().collect()} == set(range(5))
        # the shifted features are learnable
        assert m["accuracy"] > 0.8 and m["f1_similar"] > 0.6
        # exact rank AUC == MLlib's binned one while the distinct scores
        # (at most N_VECTORS) fit in its 1,000 bins
        binned = BinaryClassificationEvaluator(
            rawPredictionCol="p_similar", labelCol="label", metricName="areaUnderROC"
        ).evaluate(preds)
        assert m["roc_area"] == pytest.approx(binned, abs=1e-12)
    finally:
        result.predictions.unpersist()


def test_roc_auc_counts_ties_one_half():
    # positives 0.9 and 0.5 against negatives 0.5 and 0.1: 1 + 1 + 0.5 + 1
    assert _roc_auc([(1.0, 0.9), (1.0, 0.5), (0.0, 0.5), (0.0, 0.1)]) == 3.5 / 4
    assert _roc_auc([(1.0, 0.2), (1.0, 0.7)]) is None


def test_cross_validation_is_deterministic(spark, vectors):
    """Same vectors, same partitions: identical metrics and pooled
    predictions, although the fold models are fit concurrently."""
    runs = [cross_validate_random_forest(vectors, n_folds=4, num_trees=5) for _ in range(2)]
    try:
        assert runs[0].metrics == runs[1].metrics
        assert sorted(runs[0].predictions.collect()) == sorted(runs[1].predictions.collect())
    finally:
        for r in runs:
            r.predictions.unpersist()


def test_folds_depend_only_on_the_pair(spark, vectors):
    """A pair keeps its fold when the input is recomputed in another
    row order, and reading the pooled predictions after their cache and
    the prepared input are gone recomputes the same predictions."""
    result = cross_validate_random_forest(vectors, n_folds=4, num_trees=5)
    before = sorted(result.predictions.collect())
    result.predictions.unpersist()
    assert sorted(result.predictions.collect()) == before

    reordered = spark.createDataFrame(list(reversed(vectors.collect())), vectors.schema)
    other = cross_validate_random_forest(reordered, n_folds=4, num_trees=5)
    try:
        folds = {(r.word1, r.word2): r.fold for r in before}
        assert {(r.word1, r.word2): r.fold for r in other.predictions.collect()} == folds
    finally:
        other.predictions.unpersist()


def test_too_few_instances(spark, vectors):
    spark.catalog.clearCache()
    with pytest.raises(ValueError):
        cross_validate_random_forest(vectors.limit(1))
    assert _cache_empty(spark)  # the prepared input is released on error too
