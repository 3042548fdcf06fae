"""End-to-end pipeline runner — the engine's equivalent of the
reference's `java -jar App.jar` job flow (App.java:50-137) plus the
WekaModel standalone re-run entry (WekaModel.java:176-207).

    python -m semantic_similarity_system_using_aws_mapreduce_spark.run_pipeline CORPUS GOLD OUTDIR
        [--mode parity|standard] [--folds 10] [--trees 100]
        [--text-dumps] [--classify-only VECTORS_PARQUET]

Writes per-stage parquet (counts, assoc, pair_vectors), an evaluation
report (report.txt), optionally the reference's text encodings and an
ARFF file.  Each stage persists before the next plans against it, so
any prefix is resumable — the reference's per-step resume path
(App.java:133) without five separate clusters.

Actions that no later step reads run on driver threads, overlapping the
ones that do: the gold list is stemmed and cached while the emission
and assoc writes run (plans/pipeline.py), the pair/lexeme/feature count
tables are written while the pair vectors are written and classified,
and the cross-validation fits its folds concurrently (ml/classify.py).
This is safe because each overlapped action only reads relations that
are already written or cached, and writes its own output directory;
Spark schedules jobs from several threads at once.  Worker threads
inherit the caller's job group and description (threads.submit), and
an error on one re-raises from ``run``.
"""

from __future__ import annotations

import argparse
import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from semantic_similarity_system_using_aws_mapreduce_spark.ml.classify import cross_validate_random_forest
from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import semantic_similarity_pipeline
from semantic_similarity_system_using_aws_mapreduce_spark.session import get_spark
from semantic_similarity_system_using_aws_mapreduce_spark.sources.sinks import (
    write_arff,
    write_assoc_text,
    write_counts_text,
    write_pair_vectors_text,
)
from semantic_similarity_system_using_aws_mapreduce_spark.threads import submit


def run(
    spark: SparkSession,
    corpus: str,
    gold: str,
    outdir: str,
    mode: str = "standard",
    folds: int = 10,
    trees: int = 100,
    text_dumps: bool = False,
    resume: bool = False,
) -> dict:
    os.makedirs(outdir, exist_ok=True)
    result = semantic_similarity_pipeline(
        spark, corpus, gold, mode=mode, checkpoint_dir=outdir, resume=resume
    )
    counts = result.counts
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            side_writes = [
                submit(pool, spark, df.write.mode("overwrite").parquet, f"{outdir}/{name}.parquet")
                for name, df in [
                    ("pair_counts", counts.pair_counts),
                    ("lexeme_counts", counts.lexeme_counts),
                    ("feature_counts", counts.feature_counts),
                ]
            ]
            result.vectors.write.mode("overwrite").parquet(f"{outdir}/pair_vectors.parquet")
            if text_dumps:
                vectors = spark.read.parquet(f"{outdir}/pair_vectors.parquet")
                write_counts_text(counts, f"{outdir}/counts_text")
                write_assoc_text(result.assoc, f"{outdir}/assoc_text")
                write_pair_vectors_text(vectors, f"{outdir}/pair_vectors_text")
                write_arff(vectors, f"{outdir}/pair_vectors.arff")
            metrics = classify(spark, f"{outdir}/pair_vectors.parquet", outdir, folds, trees)
            for write in side_writes:
                write.result()
    finally:
        result.unpersist()
    return metrics


def classify(
    spark: SparkSession, vectors_path: str, outdir: str, folds: int = 10, trees: int = 100
) -> dict:
    """ML3: standalone classification over an existing pair-vectors
    relation (the WekaModel re-run path)."""
    vectors = spark.read.parquet(vectors_path)
    cv = cross_validate_random_forest(vectors, n_folds=folds, num_trees=trees)
    cv.predictions.unpersist()  # the report needs only the metrics
    m = cv.metrics
    report = [
        "=== RandomForest ===",
        f"Using {min(folds, m['n'])}-fold cross-validation",
        "",
        f"Correctly Classified Instances    {m['correct']}    {100 * m['accuracy']:.4f} %",
        f"Kappa statistic                   {m['kappa']:.4f}",
        f"Mean absolute error               {m['mae']:.4f}",
        f"Root mean squared error           {m['rmse']:.4f}",
        f"Total Number of Instances         {m['n']}",
        "",
        f"Precision (similar): {m['precision_similar']:.4f}",
        f"Recall    (similar): {m['recall_similar']:.4f}",
        f"F1        (similar): {m['f1_similar']:.4f}",
        # reference report includes per-class ROC area (Step5.java:139-167)
        (
            f"ROC Area           : {m['roc_area']:.4f}"
            if m.get("roc_area") is not None
            else "ROC Area           : n/a (single-class)"
        ),
        "",
        "=== Confusion Matrix ===",
        f"  similar:     TP={m['confusion'][0][0]}  FN={m['confusion'][0][1]}",
        f"  not-similar: FP={m['confusion'][1][0]}  TN={m['confusion'][1][1]}",
    ]
    with open(f"{outdir}/report.txt", "w") as f:
        f.write("\n".join(report) + "\n")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("corpus")
    ap.add_argument("gold")
    ap.add_argument("outdir")
    ap.add_argument("--mode", default="standard", choices=["standard", "parity"])
    ap.add_argument("--folds", type=int, default=10)
    ap.add_argument("--trees", type=int, default=100)
    ap.add_argument("--text-dumps", action="store_true")
    ap.add_argument(
        "--resume",
        action="store_true",
        help="skip stages whose OUTDIR checkpoint already exists "
        "(the reference's per-step resume, App.java:133)",
    )
    ap.add_argument("--classify-only", metavar="VECTORS_PARQUET")
    args = ap.parse_args()

    spark = get_spark(app_name="run_pipeline")
    if args.classify_only:
        metrics = classify(spark, args.classify_only, args.outdir, args.folds, args.trees)
    else:
        metrics = run(
            spark, args.corpus, args.gold, args.outdir,
            mode=args.mode, folds=args.folds, trees=args.trees,
            text_dumps=args.text_dumps, resume=args.resume,
        )
    print(json.dumps({k: v for k, v in metrics.items()}))


if __name__ == "__main__":
    main()
