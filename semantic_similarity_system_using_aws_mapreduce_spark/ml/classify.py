"""Stage 5 — RandomForest train/eval with k-fold cross-validation
(reference Step5.java:125-174 and the standalone WekaModel re-run entry,
WekaModel.java:176-207).

The reference streams Step4's S3 text output into a local ARFF file and
runs Weka's RandomForest with 10-fold CV, seed 42, on the driver.  Here
the 24 vector columns feed ``pyspark.ml`` directly, with no ARFF
materialization.  The input is prepared and cached once, and the k fold
models are fit concurrently, one driver thread each, up to the
default parallelism: a fit on a few thousand rows is a chain of small
jobs that leaves most cores idle.  Only the evaluation report's three
columns come back to the driver.

Numeric parity with Weka is not achievable (different tree algorithm,
different fold shuffling — SURVEY.md §2.10 ML1); the fidelity target is
metrics within tolerance of the published numbers (BASELINE.md):
accuracy ~93.5%, precision(similar) ~0.93-0.95, recall(similar) ~0.30.

Like Weka's ``crossValidateModel``, predictions from the k held-out
folds are pooled and metrics are computed once over the pooled set.
A pair's fold is a hash of (word1, word2) and the seed, so it does not
depend on row order or partitioning: recomputing the input, as Spark
does for a lost cached block, puts every pair back in its fold, and no
fold model scores a row it was trained on.

Infinity feature values (the D1/D2/D6 NaN->+inf policy) are clamped to
+/-1e300: tree splits are threshold comparisons, so any value larger
than every finite observation is equivalent, and MLlib rejects raw
infinities.
"""

from __future__ import annotations

import itertools
import math
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS
from semantic_similarity_system_using_aws_mapreduce_spark.threads import submit

_CLAMP = 1e300


@dataclass
class CvResult:
    #: pooled held-out predictions (word1, word2, fold, label,
    #: prediction, p_similar), cached: the caller owns the cache and
    #: unpersists it when done
    predictions: DataFrame
    metrics: dict


def _prepare(vectors: DataFrame) -> DataFrame:
    clamped = [
        F.least(F.greatest(F.col(c), F.lit(-_CLAMP)), F.lit(_CLAMP)).alias(c)
        for c in VECTOR_COLUMNS
    ]
    df = vectors.select(
        "word1",
        "word2",
        F.col("is_related").cast("double").alias("label"),
        *clamped,
    )
    return VectorAssembler(inputCols=VECTOR_COLUMNS, outputCol="features").transform(df)


def _assign_folds(prepared: DataFrame, n_folds: int, seed: int) -> DataFrame:
    """``prepared`` plus ``fold`` in [0, n_folds), a function of the
    pair's words and the seed only."""
    fold = F.pmod(F.xxhash64("word1", "word2", F.lit(seed)), F.lit(n_folds))
    return prepared.withColumn("fold", fold.cast("int"))


def cross_validate_random_forest(
    vectors: DataFrame,
    n_folds: int = 10,
    seed: int = 42,
    num_trees: int = 100,
) -> CvResult:
    """k-fold CV (``numFolds = min(10, n)``, skip below 2 — reference
    Step5.java:133-137); returns pooled predictions + the evaluation
    report.  ``num_trees=100`` matches Weka RandomForest's default
    ``numIterations``.  Given the same input rows in the same
    partitions, two runs return identical predictions and metrics."""
    spark = vectors.sparkSession
    prepared = _prepare(vectors).cache()
    try:
        n = prepared.count()
        n_folds = min(n_folds, n)
        if n_folds < 2:
            raise ValueError(f"need >= 2 instances for cross-validation, got {n}")
        folded = _assign_folds(prepared, n_folds, seed)
        rf = RandomForestClassifier(
            featuresCol="features", labelCol="label", numTrees=num_trees, seed=seed
        )
        # one estimator copy per fold: fit() writes the estimator's
        # params into its JVM object, which threads must not share
        workers = min(n_folds, spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            fits = [
                submit(pool, spark, rf.copy().fit, folded.filter(F.col("fold") != k))
                for k in range(n_folds)
            ]
            held_out = [
                fit.result().transform(folded.filter(F.col("fold") == k))
                for k, fit in enumerate(fits)
            ]
        pooled = reduce(lambda a, b: a.unionByName(b), held_out).select(
            "word1",
            "word2",
            "fold",
            "label",
            "prediction",
            # P(similar): probability vector component for class 1.0.  A
            # fold trained on only not-similar rows yields a 1-element
            # probability vector (inferred numClasses=1) -> P(similar) = 0.
            F.coalesce(
                F.try_element_at(vector_to_array("probability"), F.lit(2)), F.lit(0.0)
            ).alias("p_similar"),
        ).cache()
        try:
            metrics = evaluation_report(pooled)
        except BaseException:
            pooled.unpersist()
            raise
    finally:
        prepared.unpersist()
    return CvResult(pooled, metrics)


def _roc_auc(scored: list[tuple[float, float]]) -> float | None:
    """Area under the ROC curve of ``(label, score)`` pairs, ``score``
    ranking label 1.0 above 0.0: the Mann-Whitney statistic from
    midranks, so a positive and a negative with equal scores count one
    half.  That is the trapezoidal area through every distinct
    threshold, exactly.  ``None`` when either class is absent."""
    n_pos = sum(1 for label, _ in scored if label == 1.0)
    n_neg = len(scored) - n_pos
    if not n_pos or not n_neg:
        return None
    rank_sum = 0.0
    below = 0  # rows with a lower score
    ordered = sorted(scored, key=lambda r: r[1])
    for _, tied in itertools.groupby(ordered, key=lambda r: r[1]):
        labels = [label for label, _ in tied]
        midrank = below + (len(labels) + 1) / 2
        rank_sum += midrank * sum(1 for label in labels if label == 1.0)
        below += len(labels)
    return (rank_sum - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)


def evaluation_report(predictions: DataFrame) -> dict:
    """Accuracy, kappa, MAE/RMSE, precision/recall/F1 for class
    ``similar``, ROC area, and the confusion matrix — the contents of
    the reference's evaluation report (Step5.java:139-167; published
    ROC area 0.899/0.893 in BASELINE.md).

    Computed on the driver from one collect of ``(label, prediction,
    p_similar)``.  The collect is bounded by the number of pair
    vectors, at most one per gold pair (the reference's gold list has
    ~15k).

    ``roc_area`` is the exact AUC of ``p_similar`` as a ranking score
    (``_roc_auc``).  For binary problems the class-0 area with score
    ``1 - p_similar`` is the same number, so one value covers Weka's
    per-class ROC column.  ``None`` when the pooled predictions contain
    a single label class (AUC is undefined there — Weka prints NaN)."""
    rows = predictions.select("label", "prediction", "p_similar").collect()
    n = len(rows)
    outcomes = Counter((r.label, r.prediction) for r in rows)
    tp, fn = outcomes[(1.0, 1.0)], outcomes[(1.0, 0.0)]
    fp, tn = outcomes[(0.0, 1.0)], outcomes[(0.0, 0.0)]
    correct = tp + tn
    accuracy = correct / n
    # Cohen's kappa from the confusion matrix.
    p_yes = ((tp + fn) / n) * ((tp + fp) / n)
    p_no = ((tn + fp) / n) * ((tn + fn) / n)
    pe = p_yes + p_no
    kappa = (accuracy - pe) / (1 - pe) if pe < 1 else 1.0
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "n": n,
        "correct": correct,
        "accuracy": accuracy,
        "kappa": kappa,
        "mae": sum(abs(r.p_similar - r.label) for r in rows) / n,
        "rmse": math.sqrt(sum((r.p_similar - r.label) ** 2 for r in rows) / n),
        "precision_similar": precision,
        "recall_similar": recall,
        "f1_similar": f1,
        "roc_area": _roc_auc([(r.label, r.p_similar) for r in rows]),
        "confusion": [[tp, fn], [fp, tn]],
    }
