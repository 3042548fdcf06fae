"""The reference's full 5-stage EMR job flow (App.java:50-137) as one
lazy Spark plan.

Where the reference materializes every stage to S3 text and chains five
separate clusters-worth of jobs, here each stage is a pure
DataFrame -> DataFrame function and the whole thing is a single Catalyst
plan; ``checkpoint_dir`` optionally persists stage outputs as Parquet
for resumability (the reference's per-step resume path, App.java:133).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from semantic_similarity_system_using_aws_mapreduce_spark.operators.assoc import association_measures
from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import CorpusCounts, corpus_counts
from semantic_similarity_system_using_aws_mapreduce_spark.operators.pair_vectors import pair_vectors
from semantic_similarity_system_using_aws_mapreduce_spark.sources.biarcs import read_biarcs, token_emissions
from semantic_similarity_system_using_aws_mapreduce_spark.sources.gold import read_gold_standard
from semantic_similarity_system_using_aws_mapreduce_spark.threads import submit


@dataclass
class PipelineResult:
    corpus: DataFrame
    counts: CorpusCounts
    assoc: DataFrame
    vectors: DataFrame
    #: the stemmed gold relation; cached on the checkpointed path
    gold: DataFrame

    def unpersist(self) -> None:
        """Release what the pipeline cached: ``counts.pair_counts`` and
        the gold relation.  The caller owns both and calls this after its
        last action on the result."""
        self.counts.pair_counts.unpersist()
        self.gold.unpersist()


def _stage_complete(spark: SparkSession, path: str) -> bool:
    """A checkpointed stage is resumable iff its parquet directory has
    a _SUCCESS marker (a crashed write leaves the dir without one)."""
    import os

    return os.path.exists(os.path.join(path, "_SUCCESS"))


def semantic_similarity_pipeline(
    spark: SparkSession,
    corpus_path: str,
    gold_path: str,
    mode: str = "standard",
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> PipelineResult:
    """corpus text + gold pairs -> labelled 24-dim pair vectors.

    The stemmer UDF is an optimization barrier, so when
    ``checkpoint_dir`` is given the post-stem emission relation is
    persisted as Parquet and re-read — every downstream stage then
    plans against a fully native columnar scan (SURVEY.md §4).

    ``resume=True`` (with a ``checkpoint_dir``) skips any stage whose
    checkpoint already exists with a _SUCCESS marker — the reference's
    per-step resume path (any StepN.main pointed at existing S3 dirs,
    App.java:133) without five separate clusters.  The caller owns
    cache invalidation: resume assumes the inputs that produced the
    checkpoints have not changed.

    The result holds cached relations (``counts.pair_counts``, and the
    stemmed gold list on the checkpointed path); the caller releases
    them with ``PipelineResult.unpersist``.
    """
    # Text file-split heuristics yield few, skewed input partitions
    # (a 1M-line corpus arrived as 19 splits with most data in a
    # handful); the stemmer UDF dominates this stage, so spread the RAW
    # LINES evenly over every core before the parse + stem projections
    # (read_biarcs(spread_to=...)) — the round-robin text shuffle is
    # trivial next to stemming.  A corpus-level repartition ABOVE the
    # stem UDF would leave stemming at scan parallelism (19-way) and
    # spread only the explode; the exchange below the projections runs
    # the whole Python stage 32-wide.  Applies to BOTH modes.
    corpus = read_biarcs(
        spark, corpus_path, spread_to=spark.sparkContext.defaultParallelism
    )
    gold = read_gold_standard(spark, gold_path)
    if checkpoint_dir is None:
        counts, assoc = _counts_and_assoc(spark, corpus, mode, None, resume)
    else:
        # Stemming the gold list is one small Python task that nothing
        # before the pair vectors needs: run it, and cache its result
        # for the pair-vector plan, on a thread while the emission and
        # assoc writes use the other cores.
        gold = gold.cache()
        try:
            with ThreadPoolExecutor(max_workers=1) as pool:
                stemmed = submit(pool, spark, gold.count)
                counts, assoc = _counts_and_assoc(spark, corpus, mode, checkpoint_dir, resume)
                stemmed.result()
        except BaseException:
            gold.unpersist()
            raise
    vectors = pair_vectors(assoc, gold, mode=mode)
    return PipelineResult(corpus, counts, assoc, vectors, gold)


def _counts_and_assoc(
    spark: SparkSession,
    corpus: DataFrame,
    mode: str,
    checkpoint_dir: str | None,
    resume: bool,
) -> tuple[CorpusCounts, DataFrame]:
    """Steps 1-3: emissions, counts with ``pair_counts`` persisted, and
    the association measures, each checkpointed under ``checkpoint_dir``
    when one is given."""
    if checkpoint_dir:
        path = f"{checkpoint_dir}/emissions.parquet"
        if not (resume and _stage_complete(spark, path)):
            token_emissions(corpus).write.mode("overwrite").parquet(path)
        emissions = spark.read.parquet(path)
    else:
        emissions = token_emissions(corpus)
    # L/F totals fall out of corpus_counts' pair_counts re-aggregation
    # (persisted below), costing nothing extra in either mode.  An
    # earlier revision rode them on the parquet write with the
    # Observation API ("zero extra passes") — measured: CollectMetrics'
    # per-row accumulation made the 1M-line write 2.3x slower (7.7s ->
    # 17.7s), far more than the vocabulary-sized aggregation it saved,
    # and it needed a throwaway child session to dodge the Spark 4.1
    # listener leak.
    counts = corpus_counts(emissions)
    # All downstream branches (marginals, totals, the assoc join) read
    # pair_counts; persisting it caps the plan at ONE aggregation of the
    # emissions relation per action — the cache substitution happens on
    # the logical plan, where the subtrees are literally identical, so
    # it is immune to the per-branch isnotnull pushdown that defeats
    # physical ReusedExchange here.  This matters in BOTH modes: without
    # it the non-checkpointed plan scans+stems the corpus once per
    # branch, and the checkpointed plan re-runs the pair aggregation
    # under each marginal.
    from pyspark import StorageLevel

    counts.pair_counts.persist(StorageLevel.MEMORY_AND_DISK)
    assoc = association_measures(counts, mode=mode)
    if checkpoint_dir:
        path = f"{checkpoint_dir}/assoc.parquet"
        if not (resume and _stage_complete(spark, path)):
            assoc.write.mode("overwrite").parquet(path)
        assoc = spark.read.parquet(path)
    return counts, assoc
