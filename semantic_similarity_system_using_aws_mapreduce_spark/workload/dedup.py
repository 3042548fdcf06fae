"""Deduplication workload queries — thin adapters over the
DataFrame-level operators in operators/dedup.py (see that module and
README for hash design and 100 TB scale notes).  The DuckDB oracles
below replicate the identical md5/universal-hash arithmetic in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.sampling import (
    SPLIT_SALT,
    SPLIT_TRAIN_PERMILLE,
    SPLIT_VAL_PERMILLE,
)
from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
    A,
    B,
    N_HASHES,
    P,
    exact_dedup,
    lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_hashes,
    simhash,
)

JACCARD_THRESHOLD = 0.8
BENCH_PERMILLE = 20  # 2% of docs play the benchmark/eval set
CONTAM_MIN_OVERLAP = 5  # shared distinct 3-grams to flag a doc
SIMHASH_HAMMING = 3  # near-dup bit budget; < n_bands(4) for full recall
SPAN_W = 8  # duplicate-span window (tokens); spans >= W surface as runs
# Bloom membership pre-filter: half the corpus plays the already-
# indexed side; m/k sized so a handful of false positives surface at
# the fixture scale (the semantics under audit), none false-negative.
BLOOM_IDX_PERMILLE = 500
BLOOM_M = 4096
BLOOM_K = 2


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with crawl semantics: survivor per content digest =
    the NEWEST fetch (operators/dedup.exact_dedup_keep_newest — the
    re-crawl variant keyed on the WARC path's ``fetched_at``, for
    time-sliced corpus consumption).  The documents table has
    no timestamp, so a deterministic fetch date derives from doc_id —
    the arithmetic under audit is the max(struct(ts, id)) survivor
    pick, identical on both engines."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import exact_dedup_keep_newest

    docs = _docs(spark, sf_dir).withColumn(
        "fetched_at",
        F.date_add(F.lit("2025-01-01").cast("date"), (F.col("doc_id") % 360).cast("int")),
    )
    return exact_dedup_keep_newest(docs)


def q_neardup_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate dedup with crawl semantics — the batch twin of
    the streaming near-dup supersession
    (streaming/documents.run_streaming_curation(dedup="keep-newest"))
    aggregated to a snapshot: the LSH candidate graph's connected
    components (q_dedup_clusters' machinery) with the survivor per
    component chosen by the keep-newest rule — max(struct(fetched_at,
    doc_id)), q_dedup_keep_newest's pick — instead of the min id.
    Singleton docs are their own component and survive trivially.

    Exactly the state the streaming path converges to when a page's
    edit history arrives in timestamp order: every version of a page
    collides into one component and the freshest fetch is the visible
    head (the streaming drills pin the incremental per-batch decision;
    this query oracle-verifies the aggregate decision on both
    engines).  The documents table has no timestamp, so the same
    deterministic doc_id-derived fetch date as q_dedup_keep_newest
    feeds the comparison.

    Scale: the component computation is the audited min-label
    propagation (operators/graph.py — adaptive driver-finish);
    everything after it is one grouped aggregate with a combiner —
    no window sort, no extra shuffle beyond the cluster groupBy."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import connected_components

    docs = _docs(spark, sf_dir).withColumn(
        "fetched_at",
        F.date_add(F.lit("2025-01-01").cast("date"), (F.col("doc_id") % 360).cast("int")),
    )
    # distinct=False: min() per signature component is identical over
    # the raw multiset, so the per-(doc_id, h) dedup exchange would be
    # a corpus-sized shuffle spent on nothing (same rationale at every
    # signatures-only shingle_hashes site)
    sigs = minhash_signatures(shingle_hashes(docs, distinct=False))
    cands = lsh_candidates(sigs)
    comp = connected_components(cands).withColumnRenamed("node", "doc_id")
    members = (
        docs.select("doc_id", "fetched_at")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "fetched_at",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return members.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("fetched_at").alias("f"), F.col("doc_id").alias("d"))
        ).alias("_s"),
        F.count(F.lit(1)).alias("n_members"),
    ).select(
        "cluster_id",
        F.col("_s.d").alias("keep_doc_id"),
        F.col("_s.f").alias("keep_fetched"),
        "n_members",
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct=False: identical signatures (min is duplicate-blind),
    # one fewer corpus-sized exchange
    return minhash_signatures(shingle_hashes(_docs(spark, sf_dir), distinct=False))


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(shingle_hashes(_docs(spark, sf_dir), distinct=False))
    return lsh_candidates(sigs)


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-verify near-dup detection — the production plan at scale:
    banded-minhash candidates first, exact n-gram jaccard ONLY on those
    pairs (linear in candidates; the unfiltered inverted-index
    self-join, quadratic in a hot shingle's posting list, never runs).
    The exact-all-pairs form stays covered by tests/test_dedup.py."""
    from pyspark import StorageLevel

    # sh feeds the signature chain, both verify sides, and the size
    # relation — persist so the shingle explode+hash+distinct runs once.
    sh = shingle_hashes(_docs(spark, sf_dir)).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidates(minhash_signatures(sh))
    return ngram_jaccard_pairs(sh, JACCARD_THRESHOLD, candidates=cands)


def q_lsh_recall(
    spark: SparkSession, sf_dir: str, sample_permille: int | None = None
) -> DataFrame:
    """Recall AUDIT of the banded-minhash candidate generator against
    the EXACT prefix-filtered jaccard join at the same threshold — the
    text-dedup analog of q_ann_ivf_recall (and the empirical check on
    the banding's S-curve 1 - (1 - t^2)^{N_BANDS}: {N_BANDS} bands x 2
    rows at t={JACCARD_THRESHOLD} predicts ~98% pair recall).  One row:
    true-pair / candidate-pair / hit counts plus exact-integer recall
    ppm — the number that tells you whether an LSH configuration is
    safe to dedup 100 TB with BEFORE you run it.  The shingle relation
    is persisted so both arms (truth and candidates) share one
    explode+hash pass.

    ``sample_permille`` runs the audit on a
    deterministic md5 doc-bucket sample — the engine's own sampling
    idiom (operators/sampling.hash_bucket) applied BEFORE shingling,
    so BOTH arms see the identical sub-corpus.  This is how the audit
    runs at corpus scale: the exact truth arm is the expensive side,
    and a pair's LSH hit/miss is a property of its two signatures —
    independent of which other docs were sampled — so the sampled
    recall ratio estimates the full ratio (pairs enter the sample iff
    both endpoints do; the fixture-scale test pins sampled ≈ full).
    ``None`` (the oracle row and the exported default) audits the full
    document set."""
    from pyspark import StorageLevel

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import prefix_jaccard_join
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    if sample_permille is not None:
        docs = docs.filter(
            hash_bucket(F.col("doc_id"), "lshaudit") < sample_permille
        )
    sh = shingle_hashes(docs).persist(StorageLevel.MEMORY_AND_DISK)
    # truth and cands are each consumed TWICE (their own count AND the
    # hit semi-join) — without the persists both arms recompute whole:
    # measured 2x wall-clock on the sampled sf0.1 audit (5.7-8.0 s ->
    # 3.1-4.0 s, identical row)
    truth = prefix_jaccard_join(
        sh, threshold_permille=int(JACCARD_THRESHOLD * 1000)
    ).select("doc_a", "doc_b").persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidates(minhash_signatures(sh)).persist(StorageLevel.MEMORY_AND_DISK)
    hits = truth.join(cands, ["doc_a", "doc_b"], "left_semi")
    row = (
        truth.agg(F.count("*").alias("n_true"))
        .crossJoin(cands.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hits.agg(F.count("*").alias("n_hit")))
    )
    return row.withColumn(
        "recall_ppm",
        F.expr(
            "case when n_true > 0 then (1000000 * n_hit) div n_true"
            " else 1000000 end"
        ),
    )


def q_exact_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT jaccard >= {JACCARD_THRESHOLD} similarity self-join via
    prefix filtering — no LSH recall loss; the oracle is the plain
    all-pairs SQL, so the mirror test proves the pruning finds every
    qualifying pair (operators/dedup.prefix_jaccard_join for the
    lemma and the 100 TB shape)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import prefix_jaccard_join

    return prefix_jaccard_join(
        shingle_hashes(_docs(spark, sf_dir)),
        threshold_permille=int(JACCARD_THRESHOLD * 1000),
    )


CONTAINMENT_PERMILLE = 800
EDIT_SIM_PERMILLE = 500


def q_edit_similarity_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-level near-dup verify: normalized Levenshtein
    similarity 1 - lev/max(len) >= 0.5 over the banded-minhash
    candidate pairs — the fourth similarity modality next to set
    (jaccard/containment), bit (simhash), and vector (cosine): edit
    distance sees transpositions and in-place edits that shingle sets
    blur.  Candidates first (never all-pairs); the O(len_a * len_b)
    DP runs ONLY on candidate pairs, JVM-side via the built-in
    levenshtein — at production scale cap text length or verify on a
    prefix window, the candidate-bounded shape is unchanged.
    Integer per-mille gate on exact integer (max - lev, max) so the
    boundary cannot flip cross-engine; similarity rounded to 6 dp."""
    from pyspark import StorageLevel

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sh = shingle_hashes(docs).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidates(minhash_signatures(sh))
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    lev = F.levenshtein("_ta", "_tb")
    mx = F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_lev", lev)
        .withColumn("_mx", mx)
        .filter((F.col("_mx") - F.col("_lev")) * 1000 >= EDIT_SIM_PERMILLE * F.col("_mx"))
        .select(
            "doc_a",
            "doc_b",
            F.round((F.col("_mx") - F.col("_lev")) / F.col("_mx"), 6).alias("edit_sim"),
        )
    )


def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-containment self-join (|A∩B|/|A| >= 0.8, ordered
    pairs) via asymmetric prefix filtering — the subsumption signal
    resemblance misses (a short doc quoted inside a long one scores
    jaccard ≈ |A|/|B| but containment ≈ 1).  The oracle is the plain
    all-pairs SQL, so the mirror test proves the one-sided pruning
    finds every qualifying ordered pair
    (operators/dedup.prefix_containment_join for the lemma and the
    100 TB shape)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import prefix_containment_join

    return prefix_containment_join(
        shingle_hashes(_docs(spark, sf_dir)),
        threshold_permille=CONTAINMENT_PERMILLE,
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: EXACT pairwise Jaccard
    overlap between the distinct-shingle sets of every data source —
    the number a data card reports before mixing corpora (how much of
    src_a is a re-crawl of src_b?).  Inverted-index plan bounded by
    S^2 per shingle (operators/dedup.source_overlap for the 100 TB
    shape)."""
    docs = _docs(spark, sf_dir)
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import source_overlap

    # shingles keyed by source directly: the source column is on
    # every corpus row, so deriving (source, h) in the scan deletes the
    # corpus-sized doc_id join AND the per-doc distinct — the operator's
    # h-level set aggregation dedups either way, identical matrix
    return source_overlap(_source_shingles(docs))


def _source_shingles(docs: DataFrame) -> DataFrame:
    """(source, h) per-occurrence shingle stream for the overlap/rank
    family — :func:`shingle_hashes` keyed by source with the per-id
    distinct skipped (the consumers' set aggregation dedups)."""
    return shingle_hashes(docs, id_col="source", distinct=False).select(
        F.col("doc_id").alias("source"), "h"
    )


PAGERANK_ITERS = 3


def q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-authority PageRank: rank each data source on the
    shared-shingle co-occurrence graph (edge weight = exact distinct
    shingles shared between two sources, from the q_source_overlap
    inverted index) — the contamination matrix condensed to one
    authority score per source: a source whose content circulates
    through many well-connected sources ranks high, a leaf island
    ranks at the teleport floor.  {PAGERANK_ITERS} fixed iterations in
    pure int64 micro-unit arithmetic, so the unrolled-iteration SQL
    oracle hash-matches bit-for-bit (operators/graph.pagerank for the
    100 TB shape — at web scale this is the billion-domain graph)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import pagerank

    docs = _docs(spark, sf_dir)
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import source_overlap

    ov = source_overlap(_source_shingles(docs))
    # both orientations from ONE pass over the pair relation (array
    # explode, not a self-union that would re-derive the index twice)
    edges = ov.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src_a").alias("src"),
                    F.col("src_b").alias("dst"),
                    F.col("shared").alias("w"),
                ),
                F.struct(
                    F.col("src_b").alias("src"),
                    F.col("src_a").alias("dst"),
                    F.col("shared").alias("w"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    nodes = docs.select(F.col("source").alias("node")).distinct()
    pr = pagerank(edges, nodes, n_iter=PAGERANK_ITERS)
    return pr.select(F.col("node").alias("source"), "rank_micro")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup pairs (Hamming <= 3) via banded bucketing —
    the multi-segment design: 4 disjoint 15-bit bands, pigeonhole
    guarantees full recall at this threshold, exact bit_count(XOR)
    verify.  No all-pairs stage (operators/dedup.simhash_near_dups)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_docs(spark, sf_dir), threshold=SIMHASH_HAMMING)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal: every {SPAN_W}-token sliding
    window whose hash recurs in >= 2 distinct documents, with its
    position — the spans a remove-duplicated-passage pass would cut
    (ExactSubstr re-expressed as an equi-join-only plan; see
    operators/dedup.duplicate_spans for the 100 TB shape)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), window=SPAN_W)


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT half of substring-level dedup: excise every token
    covered by a flagged duplicate span (q_duplicate_spans's output)
    and reassemble each document — one row per doc with the cleaned
    text and audit counts (operators/dedup.scrub_spans for the 100 TB
    shape).  The flagged relation is persisted across its two roles
    (it IS q_duplicate_spans) so the span discovery runs once."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import duplicate_spans, scrub_spans

    docs = _docs(spark, sf_dir)
    flagged = duplicate_spans(docs, window=SPAN_W)
    return scrub_spans(docs, flagged, window=SPAN_W)


SEG_WORDS = 5  # paragraph-analog segment width (fixture has no newlines)
BOILER_MIN_DOCS = 4  # distinct-doc frequency that reclassifies a segment as template


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level dedup, CCNet-style (Wenzek et al. 2020): hash
    every {SEG_WORDS}-token segment corpus-wide, keep only the global
    FIRST occurrence, and drop segments frequent enough
    (>= {BOILER_MIN_DOCS} distinct docs) to be boilerplate even at
    their first occurrence.  One row per doc: verdict counts plus the
    reassembled surviving text.  Sits between whole-doc dedup
    (q_exact_dedup) and sliding-window span scrubbing (q_span_scrub):
    passage-granular like the latter, but with keep-ONE semantics
    (the first copy survives) rather than cut-everywhere
    (operators/dedup.paragraph_dedup for the 100 TB shape)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(
        _docs(spark, sf_dir), seg_words=SEG_WORDS, boiler_min_docs=BOILER_MIN_DOCS
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a deterministic 2% of documents play
    the eval set; every remaining corpus doc is scored by how many of
    its distinct 3-gram hashes collide with ANY eval doc's.  The eval
    shingle set is broadcast (eval suites are tiny next to a 100 TB
    corpus), so the probe is map-side; one shuffle total."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import ngram_contamination
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    is_bench = hash_bucket(F.col("doc_id"), "bench") < BENCH_PERMILLE
    return ngram_contamination(
        shingle_hashes(docs.filter(~is_bench)),
        shingle_hashes(docs.filter(is_bench)),
        CONTAM_MIN_OVERLAP,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: iterative connected components (min-label
    propagation) over the LSH candidate graph — the engine's iterative
    algorithm, oracled against a recursive-CTE transitive closure."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import connected_components

    sigs = minhash_signatures(shingle_hashes(_docs(spark, sf_dir), distinct=False))
    cands = lsh_candidates(sigs)
    return connected_components(cands)


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental exact dedup:
    a deterministic half of the corpus plays the already-indexed side,
    its content digests build an engine-portable (word_idx, bits)
    Bloom bitmap (operators/dedup.bloom_build), and every incoming doc
    is probed map-side — per doc, the Bloom verdict next to the exact
    answer, auditing the no-false-negative guarantee and the designed
    false-positive rate.  At 100 TB the bitmap stays {BLOOM_M} bits no
    matter how many digests are indexed, so the probe needs no shuffle
    of the index (the q_decontaminate broadcast-probe shape with a
    constant-size structure)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import bloom_build, bloom_probe
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    is_idx = hash_bucket(F.col("doc_id"), "bloomidx") < BLOOM_IDX_PERMILLE
    idx = docs.filter(is_idx).select(F.md5("text").alias("key"))
    inc = docs.filter(~is_idx).select("doc_id", F.md5("text").alias("key"))
    bloom = bloom_build(idx, m_bits=BLOOM_M, k=BLOOM_K)
    probed = bloom_probe(inc, bloom, m_bits=BLOOM_M, k=BLOOM_K, out_col="bloom_hit")
    exact = idx.distinct().withColumn("_x", F.lit(1))
    return probed.join(exact, "key", "left").select(
        "doc_id",
        "bloom_hit",
        F.col("_x").isNotNull().alias("exact_hit"),
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split WITHOUT near-duplicate leakage: the split
    decision hashes the document's DEDUP-CLUSTER representative, not
    the document — every member of a near-dup cluster lands in the
    same split, so a test document can never have a near-duplicate in
    train (the eval-contamination failure mode exact-by-doc splits
    have).  Singletons hash their own id; the assignment is the
    deterministic md5-bucket rule every sampler here uses.

    Plan: the LSH candidate graph's connected components (the
    q_dedup_clusters subplan) left-joined back to the corpus, then a
    map-side bucket expression — no extra shuffle beyond the
    clustering itself.  The split rule (constants + salt) is the ONE
    shared definition in operators/sampling.cluster_split, which the
    curation CLI also consumes."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import connected_components
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.sampling import cluster_split

    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(shingle_hashes(docs, distinct=False))
    cands = lsh_candidates(sigs)
    comp = connected_components(cands).withColumnRenamed("node", "doc_id")
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
        )
        .select(
            "doc_id",
            "group_id",
            cluster_split(F.col("group_id")).alias("split"),
        )
    )


QUERIES = {
    "q_exact_jaccard_join": q_exact_jaccard_join,
    "q_lsh_recall": q_lsh_recall,
    "q_containment_dups": q_containment_dups,
    "q_edit_similarity_dups": q_edit_similarity_dups,
    "q_leakage_safe_split": q_leakage_safe_split,
    "q_bloom_dedup": q_bloom_dedup,
    "q_duplicate_spans": q_duplicate_spans,
    "q_span_scrub": q_span_scrub,
    "q_paragraph_dedup": q_paragraph_dedup,
    "q_decontaminate": q_decontaminate,
    "q_dedup_clusters": q_dedup_clusters,
    "q_exact_dedup": q_exact_dedup,
    "q_dedup_keep_newest": q_dedup_keep_newest,
    "q_neardup_keep_newest": q_neardup_keep_newest,
    "q_minhash_signatures": q_minhash_signatures,
    "q_minhash_lsh_candidates": q_minhash_lsh_candidates,
    "q_ngram_jaccard_dups": q_ngram_jaccard_dups,
    "q_simhash": q_simhash,
    "q_simhash_near_dups": q_simhash_near_dups,
    "q_source_overlap": q_source_overlap,
    "q_domain_rank": q_domain_rank,
}

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SHINGLES = (
    "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)
_MD5INT = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_SH_CTE = f"""
        d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id, {_MD5INT.format(x='shingle')} AS h FROM (
            SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM d WHERE len(toks) >= 3))
"""

_SIG_COLS = ",\n               ".join(
    f"min(({A[k]} * (h % {P}) + {B[k]}) % {P}) AS h{k}" for k in range(N_HASHES)
)

_SIGS_CTE = f"""{_SH_CTE},
        sigs AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id)
"""

def _pagerank_iteration_ctes(n_iter: int, damping: int = 850) -> tuple[str, str]:
    """Unroll the integer PageRank recurrence into n_iter chained
    CTEs — the SQL mirror of operators/graph.pagerank's loop, one CTE
    per iteration (fixed iteration count makes the iterative operator
    fully hash-verifiable, like the k-means oracle)."""
    its, prev = [], "r0"
    for k in range(1, n_iter + 1):
        its.append(f"""
        it{k} AS (
            SELECT n2.node,
                   CAST((SELECT {(1000 - damping) * 1000} // N FROM nn)
                        + coalesce(c.s, 0) AS BIGINT) AS r
            FROM nodes n2 LEFT JOIN (
                SELECT e.dst AS node,
                       CAST(sum({damping} * e.w * r.r // (1000 * o.W)) AS BIGINT) AS s
                FROM edges e
                JOIN {prev} r ON r.node = e.src
                JOIN outw o ON o.src = e.src
                GROUP BY e.dst) c ON c.node = n2.node)""")
        prev = f"it{k}"
    return ",".join(its), prev


_PR_ITS, _PR_LAST = _pagerank_iteration_ctes(PAGERANK_ITERS)

ORACLES = {
    "q_domain_rank": f"""
        WITH {_SH_CTE},
        ss AS (SELECT DISTINCT d2.source AS source, sh.h AS h
               FROM sh JOIN documents d2 USING (doc_id)),
        inter AS (SELECT a.source AS src_a, b.source AS src_b,
                         count(*) AS shared
                  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
                  GROUP BY 1, 2),
        edges AS (SELECT src_a AS src, src_b AS dst,
                         CAST(shared AS BIGINT) AS w FROM inter
                  UNION ALL
                  SELECT src_b, src_a, CAST(shared AS BIGINT) FROM inter),
        nodes AS (SELECT DISTINCT source AS node FROM documents),
        nn AS (SELECT count(*) AS N FROM nodes),
        outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS W
                 FROM edges GROUP BY src),
        r0 AS (SELECT node,
                      CAST(1000000 // (SELECT N FROM nn) AS BIGINT) AS r
               FROM nodes),
        {_PR_ITS}
        SELECT node AS source, r AS rank_micro FROM {_PR_LAST}
    """,
    "q_paragraph_dedup": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        segs AS (
            SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                   array_to_string(
                       w[(CAST(i AS BIGINT) * {SEG_WORDS} + 1):(CAST(i AS BIGINT) * {SEG_WORDS} + {SEG_WORDS})],
                       ' ') AS seg_text
            FROM toks,
                 UNNEST(range(CAST(ceil(len(w) * 1.0 / {SEG_WORDS}) AS BIGINT))) AS t(i)),
        hashed AS (
            SELECT doc_id, seg_idx, seg_text,
                   {_MD5INT.format(x='seg_text')} AS seg_hash
            FROM segs),
        stats AS (
            SELECT seg_hash,
                   min(struct_pack(doc_id := doc_id, seg_idx := seg_idx))
                       AS winner,
                   count(DISTINCT doc_id) AS n_docs
            FROM hashed GROUP BY seg_hash),
        decided AS (
            SELECT h.doc_id, h.seg_idx, h.seg_text,
                   s.n_docs >= {BOILER_MIN_DOCS} AS boiler,
                   s.n_docs < {BOILER_MIN_DOCS}
                       AND h.doc_id = (s.winner).doc_id
                       AND h.seg_idx = (s.winner).seg_idx AS keep
            FROM hashed h JOIN stats s USING (seg_hash))
        SELECT doc_id,
               count(*) AS n_segments,
               count(*) FILTER (WHERE keep) AS n_kept,
               count(*) FILTER (WHERE NOT keep AND NOT boiler) AS n_dup,
               count(*) FILTER (WHERE boiler) AS n_boiler,
               coalesce(
                   string_agg(seg_text, ' ' ORDER BY seg_idx)
                       FILTER (WHERE keep),
                   '') AS kept_text
        FROM decided GROUP BY doc_id
    """,
    # the EXACT all-pairs form — deliberately index-free: matching it
    # proves the engine's prefix filter finds every qualifying pair
    # recall audit: truth = the all-pairs exact join, candidates = the
    # banded buckets — both CTEs verbatim from their own oracles; the
    # three counts + exact integer ppm are the whole result
    "q_lsh_recall": f"""
        WITH {_SIGS_CTE.strip()},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        truth AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}),
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
             AND a.doc_id < b.doc_id),
        agg AS (
            SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
                   (SELECT count(*) FROM cands)::BIGINT AS n_candidates,
                   (SELECT count(*) FROM truth
                    JOIN cands USING (doc_a, doc_b))::BIGINT AS n_hit)
        SELECT n_true, n_candidates, n_hit,
               (CASE WHEN n_true > 0 THEN (1000000 * n_hit) // n_true
                     ELSE 1000000 END)::BIGINT AS recall_ppm
        FROM agg
    """,
    "q_exact_jaccard_join": f"""
        WITH {_SH_CTE},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    """,
    "q_containment_dups": f"""
        WITH {_SH_CTE},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON b.h = a.h AND a.doc_id <> b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(i * 1.0 / sa.n, 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        WHERE i * 1000 >= {CONTAINMENT_PERMILLE} * sa.n
    """,
    "q_source_overlap": f"""
        WITH {_SH_CTE},
        ss AS (SELECT DISTINCT d2.source AS source, sh.h AS h
               FROM sh JOIN documents d2 USING (doc_id)),
        sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
        inter AS (SELECT a.source AS src_a, b.source AS src_b,
                         count(*) AS shared
                  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT src_a, src_b, shared,
               round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
    """,
    "q_edit_similarity_dups": f"""
        WITH {_SIGS_CTE},
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
             AND a.doc_id < b.doc_id
        ),
        scored AS (
            SELECT c.doc_a, c.doc_b,
                   levenshtein(da.text, db.text) AS lev,
                   greatest(length(da.text), length(db.text)) AS mx
            FROM cands c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b)
        SELECT doc_a, doc_b,
               round((mx - lev) * 1.0 / mx, 6) AS edit_sim
        FROM scored
        WHERE (mx - lev) * 1000 >= {EDIT_SIM_PERMILLE} * mx
    """,
    "q_leakage_safe_split": f"""
        WITH RECURSIVE {_SIGS_CTE},
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
             AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM cands
            UNION SELECT doc_b, doc_a FROM cands
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                 FROM reach GROUP BY a),
        grouped AS (
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS group_id
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
        SELECT doc_id, group_id,
               CASE WHEN {_MD5INT.format(x=f"'{SPLIT_SALT}:' || group_id")} % 1000
                         < {SPLIT_TRAIN_PERMILLE} THEN 'train'
                    WHEN {_MD5INT.format(x=f"'{SPLIT_SALT}:' || group_id")} % 1000
                         < {SPLIT_VAL_PERMILLE} THEN 'val'
                    ELSE 'test' END AS split
        FROM grouped
    """,
    "q_bloom_dedup": f"""
        WITH d AS (SELECT doc_id, md5(text) AS key,
                          {_MD5INT.format(x="'bloomidx:' || doc_id")} % 1000
                              < {BLOOM_IDX_PERMILLE} AS is_idx
                   FROM documents),
        bloom AS (SELECT p // 63 AS word_idx,
                         bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
                  FROM (SELECT {_MD5INT.format(x="'bloom:' || j || ':' || key")}
                                   % {BLOOM_M} AS p
                        FROM d CROSS JOIN range({BLOOM_K}) s(j) WHERE is_idx)
                  GROUP BY 1),
        probes AS (SELECT doc_id, key,
                          {_MD5INT.format(x="'bloom:' || j || ':' || key")}
                              % {BLOOM_M} AS p
                   FROM d CROSS JOIN range({BLOOM_K}) s(j) WHERE NOT is_idx),
        hits AS (SELECT doc_id, key,
                        bool_and((coalesce(bits, 0)
                                  & (1::BIGINT << CAST(p % 63 AS INT)))
                                 = (1::BIGINT << CAST(p % 63 AS INT))) AS bloom_hit
                 FROM probes LEFT JOIN bloom ON bloom.word_idx = p // 63
                 GROUP BY 1, 2),
        idx_keys AS (SELECT DISTINCT key FROM d WHERE is_idx)
        SELECT h.doc_id, h.bloom_hit, ik.key IS NOT NULL AS exact_hit
        FROM hits h LEFT JOIN idx_keys ik USING (key)
    """,
    "q_duplicate_spans": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s0 AS (SELECT doc_id, unnest(range(0, len(toks) - {SPAN_W} + 1)) AS pos, toks
               FROM d WHERE len(toks) >= {SPAN_W}),
        hashed AS (SELECT doc_id, pos,
                          {_MD5INT.format(x=f"array_to_string(toks[pos+1 : pos+{SPAN_W}], ' ')")} AS span_hash
                   FROM s0),
        counts AS (SELECT span_hash, count(DISTINCT doc_id) AS n_docs
                   FROM hashed GROUP BY span_hash)
        SELECT doc_id, pos, span_hash, n_docs
        FROM hashed JOIN counts USING (span_hash)
        WHERE n_docs >= 2
    """,
    "q_span_scrub": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s0 AS (SELECT doc_id, unnest(range(0, len(toks) - {SPAN_W} + 1)) AS pos, toks
               FROM d WHERE len(toks) >= {SPAN_W}),
        hashed AS (SELECT doc_id, pos,
                          {_MD5INT.format(x=f"array_to_string(toks[pos+1 : pos+{SPAN_W}], ' ')")} AS span_hash
                   FROM s0),
        counts AS (SELECT span_hash, count(DISTINCT doc_id) AS n_docs
                   FROM hashed GROUP BY span_hash),
        flagged AS (SELECT doc_id, pos FROM hashed
                    JOIN counts USING (span_hash) WHERE n_docs >= 2),
        cov AS (SELECT doc_id, unnest(range(pos, pos + {SPAN_W})) AS idx FROM flagged),
        cut AS (SELECT doc_id, list(DISTINCT idx) AS cut FROM cov GROUP BY doc_id)
        SELECT d.doc_id,
               len(toks)::BIGINT AS n_tokens,
               coalesce(len(cut), 0)::BIGINT AS n_removed,
               -- DuckDB lambda index is 1-based; the span positions are
               -- 0-based.  coalesce: array_to_string([]) is NULL in
               -- DuckDB but '' in Spark (fully-scrubbed docs).
               coalesce(array_to_string(
                   list_filter(toks, (x, i) -> NOT coalesce(list_contains(cut, i - 1), false)),
                   ' '), '') AS scrubbed
        FROM d LEFT JOIN cut USING (doc_id)
    """,
    "q_dedup_clusters": f"""
        WITH RECURSIVE {_SIGS_CTE},
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
             AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM cands
            UNION SELECT doc_b, doc_a FROM cands
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS node, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    """,
    "q_decontaminate": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id, {_MD5INT.format(x='shingle')} AS h FROM (
            SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM d WHERE len(toks) >= 3)),
        bench_ids AS (
            SELECT doc_id FROM documents
            WHERE {_MD5INT.format(x="'bench:' || doc_id")} % 1000 < {BENCH_PERMILLE}),
        bh AS (SELECT DISTINCT h FROM sh JOIN bench_ids USING (doc_id)),
        corpus AS (SELECT * FROM sh
                   WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids))
        SELECT c.doc_id,
               count(*)::BIGINT AS n_shingles,
               count(bh.h)::BIGINT AS n_overlap,
               count(bh.h) >= {CONTAM_MIN_OVERLAP} AS contaminated
        FROM corpus c LEFT JOIN bh ON c.h = bh.h
        GROUP BY c.doc_id
    """,
    "q_exact_dedup": """
        SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "q_dedup_keep_newest": """
        WITH d AS (SELECT *, DATE '2025-01-01'
                             + ((doc_id % 360)::INT) AS fetched_at
                   FROM documents),
        g AS (SELECT md5(text) AS digest,
                     max(struct_pack(f := fetched_at, d := doc_id)) AS s,
                     count(*) AS n_copies
              FROM d GROUP BY md5(text))
        SELECT digest, (s).d AS keep_doc_id, (s).f AS keep_fetched,
               n_copies
        FROM g
    """,
    "q_neardup_keep_newest": f"""
        WITH RECURSIVE {_SIGS_CTE},
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
             AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM cands
            UNION SELECT doc_b, doc_a FROM cands
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a
        ),
        dated AS (SELECT doc_id, DATE '2025-01-01'
                                 + ((doc_id % 360)::INT) AS fetched_at
                  FROM documents),
        members AS (
            SELECT t.doc_id, t.fetched_at,
                   coalesce(c.cluster_id, t.doc_id) AS cluster_id
            FROM dated t LEFT JOIN comp c ON c.doc_id = t.doc_id)
        SELECT cluster_id,
               (max(struct_pack(f := fetched_at, d := doc_id))).d
                   AS keep_doc_id,
               (max(struct_pack(f := fetched_at, d := doc_id))).f
                   AS keep_fetched,
               count(*) AS n_members
        FROM members GROUP BY cluster_id
    """,
    "q_minhash_signatures": f"""
        WITH {_SIGS_CTE}
        SELECT * FROM sigs
    """,
    "q_minhash_lsh_candidates": f"""
        WITH {_SIGS_CTE},
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
         AND a.doc_id < b.doc_id
    """,
    "q_ngram_jaccard_dups": f"""
        WITH {_SIGS_CTE},
        buckets AS (
            SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sigs
            UNION ALL SELECT doc_id, 1, h2, h3 FROM sigs
            UNION ALL SELECT doc_id, 2, h4, h5 FROM sigs
            UNION ALL SELECT doc_id, 3, h6, h7 FROM sigs
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS i
            FROM cands c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    """,
    "q_simhash": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE len({_TOKS}) >= 1),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
        tf AS (SELECT doc_id, t, count(*)::BIGINT AS w,
                      {_MD5INT.format(x="t")} AS h
               FROM tok GROUP BY doc_id, t),
        bits AS (SELECT doc_id, b.b AS b,
                        sum(CASE WHEN (h >> b.b) & 1 = 1 THEN w ELSE -w END) AS s
                 FROM tf CROSS JOIN (SELECT unnest(range(60)) AS b) b
                 GROUP BY doc_id, b.b)
        SELECT doc_id,
               sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
        FROM bits GROUP BY doc_id
    """,
    "q_simhash_near_dups": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE len({_TOKS}) >= 1),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
        tf AS (SELECT doc_id, t, count(*)::BIGINT AS w,
                      {_MD5INT.format(x="t")} AS h
               FROM tok GROUP BY doc_id, t),
        bits AS (SELECT doc_id, b.b AS b,
                        sum(CASE WHEN (h >> b.b) & 1 = 1 THEN w ELSE -w END) AS s
                 FROM tf CROSS JOIN (SELECT unnest(range(60)) AS b) b
                 GROUP BY doc_id, b.b),
        sim AS (SELECT doc_id,
                       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
                FROM bits GROUP BY doc_id),
        bands AS (SELECT doc_id, simhash, i,
                         (simhash >> (15 * i)) & 32767 AS val
                  FROM sim, range(4) r(i)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS s1, b.simhash AS s2
                 FROM bands a JOIN bands b
                   ON a.i = b.i AND a.val = b.val AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, bit_count(xor(s1, s2))::INT AS hamming
        FROM cand WHERE bit_count(xor(s1, s2)) <= {SIMHASH_HAMMING}
    """,
}
