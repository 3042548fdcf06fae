"""Zipf-skew drill for the counts spine (SURVEY §7.3: the corpus
head-word distribution is Zipfian, one head word can carry ~20% of
all emissions).  Evidences the 100x-scale claim for the reference
pipeline's hottest key instead of asserting it:

  * A1 (sum-by-key): the groupBy must collapse the hot key MAP-SIDE
    (partial aggregation) so the shuffle carries vocabulary-sized
    partials, not the 20%-of-corpus emission stream — asserted on the
    physical plan and by the post-aggregation row counts.
  * J1 (marginal joins): the declarative 3-way join under AQE must
    agree row-for-row with counts aggregated straight from the
    skewed emissions; it is timed and the measured note is printed so
    the bench record carries numbers, not claims.

AQE + partial aggregation already neutralize this skew shape, because
aggregation-before-join means the hot LEXEME reaches the join as one
row per distinct (lexeme, feature), and the marginal relations are
vocabulary-sized (AQE turns the joins into broadcasts)."""

import time

from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.assoc import joined_counts
from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts

N_EMISSIONS = 2_000_000
HOT_FRAC = 5  # 1-in-5 rows (20% mass) carry the hot head word
N_LEXEMES = 50_000
N_FEATURES = 5_000


def _zipf_emissions(spark):
    """Distributed synthetic emission stream — generated map-side from
    spark.range (never a driver-side list): 20% of rows share ONE
    lexeme, the rest spread over N_LEXEMES; features spread uniformly
    (the hot lexeme therefore fans out to every feature)."""
    return spark.range(N_EMISSIONS).select(
        F.when(F.col("id") % HOT_FRAC == 0, F.lit("hot"))
        .otherwise(
            F.concat(
                F.lit("w"), F.pmod(F.xxhash64("id"), F.lit(N_LEXEMES)).cast("string")
            )
        )
        .alias("lexeme"),
        F.concat(
            F.lit("f"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_FEATURES)).cast("string")
        ).alias("feature"),
        F.lit(1).cast("long").alias("count"),
    )


def test_a1_groupby_collapses_hot_key_map_side(spark):
    emissions = _zipf_emissions(spark)
    counts = corpus_counts(emissions)

    # partial aggregation in the plan: the shuffle input is the
    # map-side-combined partials, so the hot key's 400k emission rows
    # never cross the wire as rows
    plan = counts.pair_counts._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "HashAggregate" in plan, plan[:2000]

    t0 = time.perf_counter()
    hot = counts.lexeme_counts.filter(F.col("lexeme") == "hot").collect()
    agg_s = time.perf_counter() - t0
    assert hot[0].l_count == N_EMISSIONS // HOT_FRAC
    # the hot lexeme emerges from A1 as vocabulary-sized rows: one per
    # distinct feature, NOT one per emission
    hot_pairs = counts.pair_counts.filter(F.col("lexeme") == "hot").count()
    assert hot_pairs <= N_FEATURES
    print(f"\n  [skew drill] A1 groupBy over {N_EMISSIONS} Zipf emissions: {agg_s:.2f}s")


def test_j1_join_skew_aqe_matches_direct_counts(spark):
    emissions = _zipf_emissions(spark)
    counts = corpus_counts(emissions)

    # declarative path (AQE session defaults — skew-join splitting on)
    t0 = time.perf_counter()
    plain = joined_counts(counts)
    plain_rows = plain.count()
    plain_s = time.perf_counter() - t0

    # the hot key's rows straight from the emissions: per feature the
    # pair count, the hot lexeme's total and the feature's total
    lf = (
        emissions.filter("lexeme = 'hot'")
        .groupBy("feature")
        .agg(F.sum("count").alias("lf_count"))
    )
    f = emissions.groupBy("feature").agg(F.sum("count").alias("f_count"))
    want = {
        ("hot", r.feature, r.lf_count, N_EMISSIONS // HOT_FRAC, r.f_count)
        for r in lf.join(f, "feature").collect()
    }
    cols = ["lexeme", "feature", "lf_count", "l_count", "f_count"]
    got = {tuple(r) for r in plain.filter("lexeme = 'hot'").select(*cols).collect()}
    assert got == want and len(got) > 0
    # one row per distinct (lexeme, feature) pair over the whole relation
    assert plain_rows == emissions.select("lexeme", "feature").distinct().count()
    print(
        f"\n  [skew drill] J1 3-way join, hot key 20% mass: "
        f"AQE declarative {plain_s:.2f}s ({plain_rows} rows)"
    )
    # must complete in sane wall-clock; no relative assert (shared-host
    # noise) — the printed note is the record
    assert plain_s < 120


def test_paragraph_dedup_hot_template_key(spark):
    """paragraph_dedup's docstring claims a boilerplate segment shared
    by EVERY document is safe: its stats side is a single row, so the
    join back is AQE-splittable and the groupBy collapses map-side.
    Drill it: 200k docs all opening with one 5-token template header
    (one seg_hash carrying 50% of all segment occurrences) plus one
    unique segment each."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup

    n = 200_000
    header = "terms of service apply here"  # 5 tokens -> exactly 1 segment
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"u{k}x"), F.col("id").cast("string")) for k in range(5)]
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(header + " "), uniq).alias("text"),
    )
    t0 = time.perf_counter()
    out = paragraph_dedup(docs, 5, 4)
    agg = out.agg(
        F.sum("n_boiler").alias("b"),
        F.sum("n_kept").alias("k"),
        F.sum("n_dup").alias("d"),
        F.count("*").alias("n"),
    ).first()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()  # release the operator's caller-owned persist
    # the template segment is boiler in EVERY doc (including the first
    # occurrence); each doc keeps exactly its unique segment
    assert (agg.b, agg.k, agg.d, agg.n) == (n, n, 0, n)
    print(f"paragraph_dedup hot-template {n} docs: {dt:.2f}s")
