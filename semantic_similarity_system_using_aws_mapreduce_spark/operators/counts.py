"""Stage 1 — corpus counting (reference Step1).

The reference funnels three logically separate aggregations through a
single MapReduce shuffle by tagging keys ``l`` / ``f`` / ``lf``
(Step1.java:63-70) and relies on a combiner for map-side pre-summing
(Step1.java:116; 13x shuffle reduction per README.md:24-29).  In Spark
each aggregation is its own ``groupBy().sum()`` — Catalyst always emits
partial (map-side) + final HashAggregates, so the combiner is free, and
AQE coalesces the post-shuffle partitions.

The corpus totals L and F (reference Hadoop counters, Step1.java:73-74,
written to an S3 side-file at :131-150) are a 1-row aggregate DataFrame
here — no filesystem side-channel.  Note the two counters are always
equal by construction (both incremented by ``count`` per token
emission), so a single scalar suffices.

Scale note (100 TB): the emissions relation is huge but narrow
(lexeme, feature, count).  Head words are Zipfian; the groupBys are
safe because partial aggregation collapses hot keys map-side before the
shuffle — the same reason the reference's combiner achieves 13x.  No
salting needed for an aggregation (only joins suffer from skew; see
assoc.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CorpusCounts:
    """The three R1 count relations plus the totals relation.

    ``totals`` has one row ``(L, F)`` — kept as a DataFrame so the
    whole pipeline stays lazy; join it with ``crossJoin`` (it is
    broadcast automatically).
    """

    lexeme_counts: DataFrame
    feature_counts: DataFrame
    pair_counts: DataFrame
    totals: DataFrame


def corpus_counts(emissions: DataFrame) -> CorpusCounts:
    """Aggregate the per-token emission relation (sources.biarcs.
    token_emissions) into lexeme / feature / pair counts and totals.

    Counts are longs (the reference's Integer.parseInt at Step1.java:97
    would overflow at full-corpus scale).

    Only ``pair_counts`` aggregates the emissions relation; the lexeme
    and feature marginals and the totals all re-aggregate
    ``pair_counts`` (sum of per-pair sums == per-key sum exactly —
    integer arithmetic).  This is the reference's own single-shuffle
    design (Step1 funnels all three counts through one shuffle): at
    100 TB the enormous stemmed-emissions relation is scanned and
    shuffled ONCE, and the marginal aggregations shuffle only the
    (vocabulary-sized) pair relation.  The pipeline persists
    pair_counts in non-checkpointed mode so all four branches share
    one materialization even when physical-plan canonicalization
    (per-branch join-key isnotnull pushdown) defeats ReusedExchange.
    """
    pair_counts = emissions.groupBy("lexeme", "feature").agg(
        F.sum("count").alias("lf_count")
    )
    lexeme_counts = pair_counts.groupBy("lexeme").agg(
        F.sum("lf_count").alias("l_count")
    )
    feature_counts = pair_counts.groupBy("feature").agg(
        F.sum("lf_count").alias("f_count")
    )
    totals = pair_counts.agg(
        F.sum("lf_count").alias("L"), F.sum("lf_count").alias("F")
    )
    return CorpusCounts(lexeme_counts, feature_counts, pair_counts, totals)
