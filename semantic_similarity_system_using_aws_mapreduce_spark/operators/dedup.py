"""DataFrame-level deduplication operators (library API).

The workload queries in workload/dedup.py are thin adapters over these.
Hash design and scale notes live there and in README; in short: one
md5 per shingle, universal-hash minhashes (codegen'd integer math),
banded LSH joins, and explode+groupBy plans instead of interpreted
higher-order lambdas.

Hash-function choice: md5 (via :func:`md5_int`, and its Python twin
:func:`md5_token_hash` in the simhash kernel) is the CROSS-ENGINE
VERIFICATION contract -- DuckDB reproduces it bit-for-bit, which is
what lets the correctness gate hash-compare every dedup query.
:func:`shingle_hashes` also takes ``hash_fn=xxhash64_int``, the
cheaper production scan (measured deltas in xxhash64_int's
docstring): the signatures/LSH/jaccard stages downstream are
hash-agnostic over any 64-bit ``h``, so dedup DECISIONS are
hash-independent on non-adversarial corpora (test_dedup_operators
pins identical verified pairs under both hashes); only the raw hash
values differ, so the oracle queries stay on md5.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

# Universal hash family over a Mersenne prime: h_k(x) = (A[k]*(x%P)+B[k])%P.
# Products stay < 2^62 -> identical in any int64 engine (DuckDB oracle).
P = 2147483647
A = [1103515245, 1229782938, 1377093957, 1588635695, 1739064211, 1865811235, 1966632999, 2027875231]
B = [12345, 98765, 55555, 31337, 77777, 13579, 24680, 424242]

#: The minhash signature config every caller shares: one component per
#: universal hash, banded N_BANDS x ROWS_PER_BAND for the LSH joins
#: (a pair at jaccard s is a candidate with probability
#: 1 - (1 - s^2)^4: 0.98 at the 0.8 verify threshold, 1/2 near 0.40,
#: so the banding leans to recall and the jaccard verify drops the rest).
N_HASHES = len(A)
N_BANDS, ROWS_PER_BAND = 4, 2


def md5_int(col: Column) -> Column:
    """Portable 60-bit integer hash (bit-identical in DuckDB via
    ('0x' || substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def xxhash64_int(col: Column) -> Column:
    """Production 60-bit integer hash: ``xxhash64`` (one codegen'd JVM
    intrinsic, vs :func:`md5_int`'s md5 + hex-string substr + conv
    chain) logically shifted right 4 bits so the result lands in the
    same non-negative 60-bit domain md5_int produces — every
    downstream universal-hash / banding / bucketing expression keeps
    its ``products < 2^62`` overflow-freedom guarantee unchanged.

    Measured at sf0.1, warm: the hash swap cuts the
    shingle-hash SCAN stage ~1.2x (0.72 -> 0.58 s — the tokenize +
    shingle explode dominates that stage, not the hash expression),
    and the end-to-end LSH candidates row is parity (0.46 vs 0.47 s)
    because the band self-join's shuffle dominates end-to-end.  The
    cheaper hash pays off where the 100 TB deployment actually spends:
    scan-bound passes over long documents (hash arithmetic per
    shingle grows with document length while the explode cost is
    fixed per token) and md5's per-row allocation pressure.  NOT
    cross-engine verifiable (xxhash64's seed/variant is
    Spark-specific), which is exactly why the oracle queries stay on
    md5."""
    return F.shiftrightunsigned(F.xxhash64(col), 4)


def tokens(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda t: t != "")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings.

    Implemented as a zip_with fold over n shifted slices, NOT as
    transform(sequence) + element_at: higher-order-function lambdas
    are interpreted, and every element_at inside one re-evaluates the
    ``toks`` expression — for callers that pass an inline
    ``tokens(text)`` that means re-splitting the document once per
    element per position (measured on the sf0.1 documents table:
    3.7 s for the element_at form vs 0.3 s for this one, 12x).  The
    slice form evaluates ``toks`` n times per ROW and the lambda only
    touches its two scalar arguments.  Shingle strings are identical
    to the old form for size >= n; shorter arrays now yield [] (the
    element_at form raised INVALID_ARRAY_INDEX — every caller
    guarded, so nothing depended on the error)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_fn=md5_int,
    distinct: bool = True,
) -> DataFrame:
    """(id, h): distinct 60-bit hashes of each document's word
    n-gram shingles — the shared scan for minhash and jaccard.

    ``distinct=False`` skips the per-id dedup shuffle and returns the
    raw per-occurrence (id, h) stream — for consumers whose own
    aggregation dedups anyway (``source_overlap``'s h-level set
    aggregate), where the distinct would be a whole extra corpus-sized
    exchange spent pre-computing what the consumer's partial
    aggregation already does map-side.

    ``hash_fn`` (Column -> int64 Column) picks the hash contract:
    :func:`md5_int` (default) is the cross-engine verification hash;
    :func:`xxhash64_int` is the ~3-5x cheaper production scan.  Every
    consumer of this relation (minhash_signatures, lsh_candidates,
    ngram_jaccard_pairs) is hash-agnostic over the 64-bit ``h``, so
    the choice changes no downstream plan and — on non-adversarial
    corpora — no dedup decision (pinned by test_dedup).

    The token array is materialized in its own projection BEFORE the
    shingle transform: with word_shingles' zip_with-over-slices form an
    inline ``tokens(text)`` re-splits the document once per SLICE
    (n+1 times per row) — far better than the old element_at form's
    once-per-element, but still n redundant splits the projection
    avoids."""
    step = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= n)
    out = step.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), n)).alias("shingle")
    ).select("doc_id", hash_fn(F.col("shingle")).alias("h"))
    if not distinct:
        return out
    # Dedup per doc via groupBy(id) + collect_set + explode rather than
    # .distinct(): identical (id, h) multiset, but the one exchange is
    # keyed by doc_id ALONE, so every downstream per-doc aggregation —
    # minhash_signatures' groupBy, the jaccard/containment sizes
    # groupBy — reuses the partitioning instead of re-shuffling the
    # whole corpus-shingle relation a second time (the win
    # survives a persist because InMemoryTableScan reports the cached
    # plan's output partitioning).  Per-group state is one doc's
    # distinct-shingle set — bounded by document length, the same
    # bound the old distinct's hash table had per key.
    return (
        out.groupBy("doc_id")
        .agg(F.collect_set("h").alias("_hs"))
        .select("doc_id", F.explode("_hs").alias("h"))
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(keep_doc_id, n_copies): survivor = min id per content digest."""
    return (
        df.groupBy(F.md5(text_col).alias("digest"))
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


def exact_dedup_keep_newest(
    df: DataFrame,
    ts_col: str = "fetched_at",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(digest, keep_doc_id, keep_fetched, n_copies): exact content
    dedup with CRAWL semantics — the survivor per digest is the NEWEST
    fetch (ties on the timestamp broken by the greatest id), not the
    smallest id.  Re-crawls re-fetch the same page over months; a
    training corpus wants the most recent copy's metadata while the
    content digest proves they are the same bytes.  Keyed on the WARC
    readers' ``fetched_at`` (sources/warc.py, from WARC-Date).

    One combiner-friendly groupBy, like :func:`exact_dedup`: the
    survivor rides a ``max(struct(ts, id))`` aggregate — lexicographic
    struct comparison is identical in Spark and DuckDB
    (``max(struct_pack(...))``), and partial aggregation collapses a
    hot digest's copies map-side, so the shape scales exactly like the
    min-id variant."""
    pick = F.max(
        F.struct(F.col(ts_col).alias("f"), F.col(id_col).alias("d"))
    ).alias("_s")
    return (
        df.groupBy(F.md5(text_col).alias("digest"))
        .agg(pick, F.count("*").alias("n_copies"))
        .select(
            "digest",
            F.col("_s.d").alias("keep_doc_id"),
            F.col("_s.f").alias("keep_fetched"),
            "n_copies",
        )
    )


def minhash_signatures(hashes: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N_HASHES-1}) from a shingle_hashes relation.

    Hash-agnostic by construction: the universal family maps any
    64-bit ``h`` (md5_int or xxhash64_int, both non-negative 60-bit)
    through ``(A[k]*(h%P)+B[k])%P`` — so the production-hash flag
    lives entirely in the upstream :func:`shingle_hashes` call and
    this stage, LSH banding, and jaccard verification run unchanged."""
    x = F.col("h") % P
    aggs = [
        F.min((F.lit(A[k]) * x + F.lit(B[k])) % P).alias(f"h{k}")
        for k in range(N_HASHES)
    ]
    return hashes.groupBy("doc_id").agg(*aggs)


def lsh_candidates(sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs agreeing on every row of at least one band."""
    # Persist: both self-join sides read buckets, and exchange reuse
    # does not fire across the aliases — without this the signature
    # aggregation (and everything under it) runs twice.
    from pyspark import StorageLevel

    # caller-owned cache: operators/__init__ ownership contract
    buckets = signature_buckets(sigs).persist(StorageLevel.MEMORY_AND_DISK)
    key_cols = ["band"] + [f"k{r}" for r in range(ROWS_PER_BAND)]
    a, b = buckets.alias("a"), buckets.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for c in key_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    hashes: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs above threshold.

    Two plans, chosen by ``candidates``:

      * candidate-verify (the production path at scale): join the
        candidate pairs (e.g. :func:`lsh_candidates` output) with the
        shingle relation on each side — the intersection is computed
        ONLY for candidate pairs, so work is linear in
        ``|candidates| * avg_doc_shingles`` and no all-pairs or
        inverted-index self-join ever runs.  Jaccard values are exact
        for every candidate pair.
      * inverted-index self-join (exact ground truth, no candidates):
        scores ALL colliding pairs.  A single high-document-frequency
        shingle makes this quadratic in its posting list; pass
        ``max_doc_freq`` to drop shingles shared by more than that many
        documents from the index.  Sizes still count every shingle, so
        the jaccard of a surviving pair is understated by at most its
        dropped-shingle overlap (the standard posting-list cutoff
        trade-off); at 100 TB prefer the candidate-verify plan.
    """
    sizes = hashes.groupBy("doc_id").agg(F.count("*").alias("n"))
    if candidates is not None:
        ha = hashes.select(F.col("doc_id").alias("doc_a"), "h")
        hb = hashes.select(F.col("doc_id").alias("doc_b"), "h")
        inter = (
            candidates.join(ha, "doc_a")
            .join(hb, ["doc_b", "h"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        idx = hashes
        if max_doc_freq is not None:
            common = (
                hashes.groupBy("h")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") > max_doc_freq)
                .select("h")
            )
            idx = hashes.join(F.broadcast(common), "h", "left_anti")
        a, b = idx.alias("a"), idx.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated token SPANS — the substring-level
    dedup signal (the public ExactSubstr idea: duplicated passages are
    removed from documents rather than dropping whole near-dup docs;
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better").  A suffix array over 100 TB doesn't distribute; hashing
    every ``window``-token sliding window and grouping by hash finds
    the same >= window-token repeated passages as an equi-join-only
    plan (maximal longer repeats appear as runs of consecutive
    duplicated windows).

    Returns (doc_id, pos, span_hash, n_docs): one row per window
    occurrence whose hash appears in >= ``min_docs`` DISTINCT documents
    — exactly the spans a remove-duplicated-substring pass would cut.

    Plan shape: token windows are map-side (sequence -> slice ->
    array_join -> posexplode, the q_doc_chunks subplan, zero
    exchanges); then ONE groupBy(span_hash) for document frequencies
    and one join back.  The >= min_docs filter runs before the join,
    so the frequency side carries only duplicated hashes (a tiny
    fraction of the corpus).  Boilerplate spans shared by millions of
    documents skew the join key; AQE skew-split covers it, and a
    ``max_doc_freq``-style cutoff (as in :func:`ngram_jaccard_pairs`)
    applies unchanged if a pathological span dominates."""
    from pyspark import StorageLevel

    step = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= window)
    # Persist: the span relation feeds both the frequency groupBy and
    # the join-back side, and exchange reuse does not fire across the
    # two consumers — without this the tokenize+window-explode+md5
    # chain (the expensive part) runs twice (same pattern as
    # lsh_candidates' bucket persist; measured 2.3 -> 1.5 s at sf0.1).
    spans = step.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - window),
                lambda i: F.array_join(F.slice("toks", i + 1, window), " "),
            )
        ).alias("pos", "span"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        md5_int(F.col("span")).alias("span_hash"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # caller-owned cache: operators/__init__ contract
    counts = (
        spans.groupBy("span_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return spans.join(counts, "span_hash").select(
        "doc_id", "pos", "span_hash", "n_docs"
    )


def ngram_contamination(
    corpus_hashes: DataFrame,
    benchmark_hashes: DataFrame,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct n-gram hashes appear ANYWHERE in the benchmark/eval set
    (the standard n-gram-collision test used to scrub eval data out of
    training corpora).

    Inputs are two :func:`shingle_hashes` relations.  Plan: the
    benchmark side (eval suites are tiny next to a 100 TB corpus) is
    collapsed to its distinct hash set and broadcast, so the overlap
    test is a map-side hash probe on the corpus scan; the only shuffle
    is the per-document groupBy — one pass computes both the document's
    shingle count and its benchmark-hit count.

    Returns (doc_id, n_shingles, n_overlap, contaminated).
    """
    bench = benchmark_hashes.select("h").distinct().withColumn("bhit", F.lit(1))
    return (
        corpus_hashes.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("bhit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") >= min_overlap).alias("contaminated"),
        )
    )


def md5_token_hash(token: bytes) -> int:
    """Python-side twin of :func:`md5_int` — the cross-engine
    verification hash the simhash kernel defaults to (bit-identical
    to the DuckDB oracle expression)."""
    import hashlib

    return int(hashlib.md5(token).hexdigest()[:15], 16)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 60,
) -> DataFrame:
    """(doc_id, simhash): tf-weighted sign-sum fingerprint over token
    hashes; near-dup ⇔ small Hamming distance.

    Simhash is a PER-DOCUMENT computation, so the 100 TB plan is a pure
    map: one Arrow-batched kernel per partition, ZERO shuffles.  The
    kernel tokenizes exactly like :func:`tokens` (split on space, drop
    empties), hashes each distinct token with :func:`md5_token_hash`
    (bit-identical to :func:`md5_int` and to the DuckDB oracle
    expression; memoized per batch because vocabulary is Zipfian, so
    the hash constant is paid once per distinct token, not once per
    occurrence), then computes all ``n_bits`` tf-weighted sign-sums in
    one numpy matrix op per document.  Integer math end to end, so the
    fingerprint is deterministic and hash-verifiable cross-engine.

    Formulation history (measured at sf0.1, 32 threads): 60 parallel
    sum(when(...)) aggregate buffers in one shuffle blew the JVM 64 KB
    codegen limit and fell back to interpreted evaluation (~13 s);
    explode to (doc_id, bit, sign) + two-level groupBy stayed inside
    codegen but fanned every token occurrence out 60x (9.0 s); this
    kernel does the same arithmetic in numpy at
    ~3.5 s cold / ~0.7 s warm — and removes both shuffles, which at
    100 TB matters more than the constant."""
    import numpy as np
    import pandas as pd

    bits = np.arange(n_bits, dtype=np.int64)

    def gen(batches):
        cache: dict = {}
        for pdf in batches:
            out_ids, out_fp = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                tf: dict = {}
                for t in (text or "").split(" "):
                    if not t:
                        continue
                    h = cache.get(t)
                    if h is None:
                        h = md5_token_hash(t.encode("utf-8"))
                        cache[t] = h
                    tf[h] = tf.get(h, 0) + 1
                if not tf:
                    continue  # parity: relational form filters size(toks) >= 1
                hu = np.fromiter(tf.keys(), np.int64, len(tf))
                w = np.fromiter(tf.values(), np.int64, len(tf))
                signs = ((hu[:, None] >> bits[None, :]) & 1) * 2 - 1
                s = (signs * w[:, None]).sum(axis=0)
                out_fp.append(int(((s > 0).astype(np.int64) << bits).sum()))
                out_ids.append(doc_id)
            yield pd.DataFrame(
                {"doc_id": pd.array(out_ids, "int64"), "simhash": pd.array(out_fp, "int64")}
            )

    return df.select(F.col(id_col).alias(id_col), F.col(text_col)).mapInPandas(
        gen, schema="doc_id long, simhash long"
    )


def simhash_near_dups(
    df: DataFrame,
    threshold: int = 3,
    n_bands: int = 4,
    n_bits: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance, found WITHOUT
    an all-pairs comparison: split the fingerprint into ``n_bands``
    equal bit-bands and self-join on (band index, band value) — by
    pigeonhole, two fingerprints within ``threshold`` differing bits
    (threshold < n_bands) must agree on at least one whole band, so
    banded candidates have perfect recall; the exact bit_count(XOR)
    check then drops false positives.  This is the classic
    multi-segment simhash dedup design for web-scale corpora.

    Plan: one simhash pass (persisted — a self-join would otherwise
    recompute the whole fingerprint pipeline per side), explode to
    n_bands rows per doc, equi-join on the band key, distinct, exact
    Hamming filter.  The only shuffles are the band join and distinct;
    hot bands (boilerplate-heavy corpora) split under AQE.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    if threshold >= n_bands:
        raise ValueError(
            f"threshold {threshold} needs n_bands > threshold for full recall"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bits {n_bits} not divisible by n_bands {n_bands}")
    from pyspark import StorageLevel

    width = n_bits // n_bands
    mask = (1 << width) - 1
    # caller-owned cache: operators/__init__ ownership contract
    sh = simhash(df, id_col=id_col, text_col=text_col, n_bits=n_bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), width * i).bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("int")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= threshold)
    )


def scrub_spans(
    df: DataFrame,
    spans: DataFrame,
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply substring-level dedup: REMOVE every token covered by a
    flagged span (the output of :func:`duplicate_spans`) and reassemble
    the document — the cut half of the ExactSubstr recipe, where
    duplicated passages are excised but the unique remainder of the
    document survives (dropping whole near-dup docs loses their unique
    text; Lee et al. 2021).

    ``spans`` carries (id, pos) rows with ``pos`` the 0-based start of
    a ``window``-token flagged span.  Overlapping spans union: a token
    is removed iff ANY flagged span covers it.

    Returns (id, n_tokens, n_removed, scrubbed) — the cleaned text plus
    audit counts (n_removed counts distinct covered positions).

    Plan shape: span starts fan out to covered positions (map-side
    ``sequence`` explode, x``window``), collapse to one per-doc
    position set (the only shuffle — keyed by doc, sized by flagged
    positions, a tiny fraction of the corpus), then a left join back to
    the corpus and a pure map-side indexed ``filter`` over the token
    array.  Docs with no flagged span pass through null-cut ->
    untouched.  At 100 TB: the position-set relation is bounded by
    duplicated text volume, not corpus volume, and the rebuild never
    shuffles the corpus."""
    covered = (
        spans.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
            ).alias("_idx"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_idx").alias("_cut"))
    )
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("_cut"), i.cast("long")), F.lit(False)
        ),
    )
    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .join(covered, id_col, "left")
        .select(
            id_col,
            F.size("_toks").cast("long").alias("n_tokens"),
            F.coalesce(F.size("_cut"), F.lit(0)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("scrubbed"),
        )
    )


def segment_hashes(
    df: DataFrame,
    seg_words: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, seg_idx, seg_text, seg_hash): the deterministic
    non-overlapping ``seg_words``-token segmentation with the portable
    60-bit hash — the map-side fan-out :func:`paragraph_dedup` and the
    streaming incremental variant share (zero exchanges; stride ==
    width, so the fan-out is 1x token volume)."""
    step = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    n_seg = F.ceil(F.size("toks") / F.lit(seg_words)).cast("long")
    # empty-token docs must yield ZERO segments (and drop out of the
    # result, like an oracle's range(0)): a bare sequence(0, n_seg-1)
    # with n_seg == 0 is sequence(0, -1), which Spark auto-steps
    # BACKWARD into [0, -1] — two phantom segments
    idxs = F.when(
        n_seg > 0, F.sequence(F.lit(0).cast("long"), n_seg - 1)
    ).otherwise(F.array().cast("array<long>"))
    return step.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idxs,
                lambda i: F.array_join(
                    F.slice("toks", (i * seg_words + 1).cast("int"), seg_words),
                    " ",
                ),
            )
        ).alias("seg_idx", "seg_text"),
    ).select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        "seg_text",
        md5_int(F.col("seg_text")).alias("seg_hash"),
    )


def paragraph_dedup(
    df: DataFrame,
    seg_words: int = 5,
    boiler_min_docs: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PARAGRAPH-level dedup with keep-first semantics plus
    boilerplate removal — the CCNet recipe (Wenzek et al. 2020:
    paragraphs are hashed corpus-wide; every repeat after the first
    occurrence is dropped, which removes boilerplate headers/footers
    and quoted passages without discarding whole documents).  The
    fixture corpus has no newline structure, so the paragraph analog
    is the deterministic non-overlapping ``seg_words``-token
    segmentation; on real corpora the segmenter is a split on
    newlines and the rest of the plan is unchanged.

    Three verdicts per segment:
      keep   - the corpus-wide FIRST occurrence (smallest
               (doc_id, seg_idx)) of a segment seen in fewer than
               ``boiler_min_docs`` distinct documents
      dup    - a later occurrence of a kept segment's hash
      boiler - any occurrence of a segment found in >=
               ``boiler_min_docs`` distinct docs (dropped everywhere,
               INCLUDING its first occurrence - CCNet's head/footer
               case: text that frequent is template, not content)

    Returns (doc_id, n_segments, n_kept, n_dup, n_boiler, kept_text)
    with kept_text the surviving segments rejoined in document order
    ('' when nothing survives - the caller decides whether an emptied
    doc is dropped).

    Global keep-first needs a total order both engines agree on; the
    winner is min() over the (doc_id, seg_idx) STRUCT — lexicographic
    on both engines, partial-aggregated like any min.  (An earlier
    packed int64 key doc_id * 2^20 + seg_idx silently wrapped for
    doc_id >= 2^43 — the md5-derived 60-bit ids the WARC ingest mints
    — picking an arbitrary-but-wrong "first"; the struct form has no
    range precondition.  Cost of the fix: struct isn't a mutable
    hash-buffer type, so the min plans as a SortAggregate — a map-side
    per-partition sort the packed key avoided; correctness over a
    constant factor, and the shuffle volume is unchanged.)

    Plan shape: segmentation is map-side (sequence -> slice ->
    array_join -> posexplode, zero exchanges — the q_doc_chunks
    fan-out with stride == width); then ONE groupBy(seg_hash) carrying
    a min() and a count_distinct (both partial-aggregated map-side),
    a join back co-partitioned on seg_hash (the groupBy's exchange is
    reused via the persist), and ONE groupBy(doc_id) to reassemble.
    At 100 TB: every shuffle is keyed and combiner-friendly; a
    boilerplate segment shared by millions of docs is a hot JOIN key
    on the segments side, but its stats side is a single row, so AQE
    skew-split handles it without replication tricks.  Unlike
    :func:`duplicate_spans` (sliding windows, substring recall) the
    segment fan-out is 1x the corpus token volume, not window x."""
    from pyspark import StorageLevel

    key = F.struct(F.col("doc_id"), F.col("seg_idx"))
    segs = segment_hashes(df, seg_words, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )  # caller-owned cache: operators/__init__ contract
    stats = segs.groupBy("seg_hash").agg(
        F.min(key).alias("_winner"),
        F.countDistinct("doc_id").alias("_n_docs"),
    )
    boiler = F.col("_n_docs") >= boiler_min_docs
    keep = (
        ~boiler
        & (F.col("doc_id") == F.col("_winner.doc_id"))
        & (F.col("seg_idx") == F.col("_winner.seg_idx"))
    )
    kept_struct = F.when(keep, F.struct("seg_idx", "seg_text"))
    return (
        segs.join(stats, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.count(F.when(~keep & ~boiler, 1)).alias("n_dup"),
            F.count(F.when(boiler, 1)).alias("n_boiler"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.seg_text,
                ),
                " ",
            ).alias("kept_text"),
        )
    )


def signature_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, k0, k1): the N_BANDS x ROWS_PER_BAND banded LSH
    bucket relation of a minhash-signature relation — the map-side explode
    :func:`lsh_candidates` uses internally, exposed for the bucketed
    probe table (``streaming.documents.build_bucketed_sig_index``)."""
    return sigs.select(
        "doc_id", F.explode(F.array(*_band_structs())).alias("bb")
    ).select("doc_id", "bb.*")


def _band_structs() -> list[Column]:
    """One ``struct(band, k0, k1)`` per band over the ``h*`` columns."""
    return [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.col(f"h{b * ROWS_PER_BAND + r}").alias(f"k{r}")
                for r in range(ROWS_PER_BAND)
            ],
        )
        for b in range(N_BANDS)
    ]


def _band_keys(sig) -> list[tuple]:
    """The (band, k0, k1) bucket keys of one driver-held signature: the
    Python twin of :func:`signature_buckets`' explode."""
    return [
        (b, *sig[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]) for b in range(N_BANDS)
    ]


def _n_agree(a, b) -> int:
    return sum(x == y for x, y in zip(a, b))


def near_dup_probe(
    spark: SparkSession,
    batch: list,
    index_sigs: DataFrame | None,
    min_agree: int = 6,
    bucketed: Sequence[DataFrame] | None = None,
) -> set[tuple[int, int, int, bool]]:
    """Dedup probe of an incoming batch against a persisted signature
    index: every verified collision ``(doc_id, partner, n_agree,
    in_batch)`` where a batch document's signature agrees on
    >= ``min_agree`` of its ``N_HASHES`` components with an indexed
    document (``in_batch`` false) or with a smaller-id document of its
    own batch (``in_batch`` true; the larger id drops toward the
    smaller).  A survivor policy reads all of a document's partners:
    keep-first drops any document that has one, keep-newest
    (``streaming.documents``) compares timestamps against the newest
    visible one.

    ``batch`` is the batch's driver-held ``(doc_id, h0..h7)`` rows
    (:func:`minhash_signatures`), bounded by the micro-batch.  Batch
    and index ids are disjoint by contract, so index rows under a batch
    document's own id are the residue of an earlier attempt of the same
    batch and never collide.

    Plan shape, the small side in memory and the large one streamed
    past it: in-batch collisions are banded and verified in Python.
    Index collisions are one scan of the index's band explode, joined
    to a broadcast ``LocalRelation`` of the batch's (band, k0, k1,
    h0..h7) rows and verified in the same projection -- no exchange on
    either side, no shuffle of the index.  ``bucketed`` = [bucket rows,
    tail] probes a pre-exploded (doc_id, band, k0, k1) bucket relation
    the same way, plus ``tail``, the signature rows it does not cover;
    the bucket candidates' signatures are then read from ``index_sigs``
    by one broadcast semi-join.  Every collect is bounded by the batch's
    documents times their partners: verified ones from a signature
    relation, band-key candidates from a bucket relation."""
    sigs = {r[0]: tuple(r[1:1 + N_HASHES]) for r in batch}
    out = set()
    by_key: dict = {}
    for doc, sig in sigs.items():
        for key in _band_keys(sig):
            by_key.setdefault(key, []).append(doc)
    for docs in by_key.values():
        for a in docs:
            for b in docs:
                if a > b and (n := _n_agree(sigs[a], sigs[b])) >= min_agree:
                    out.add((a, b, n, True))
    if not sigs or index_sigs is None:
        return out
    hits = [
        (r["doc_id"], r["partner"], r["n_agree"])
        for r in _index_hits(spark, sigs, index_sigs, min_agree, bucketed).collect()
        if r["partner"] not in sigs
    ]
    unverified = {p for _, p, n in hits if n is None}
    p_sigs = {}
    if unverified:
        ids = local_relation(spark, [(p,) for p in sorted(unverified)], "doc_id long")
        p_sigs = {
            r[0]: tuple(r[1:])
            for r in index_sigs.join(F.broadcast(ids), "doc_id", "semi")
            .select("doc_id", *[f"h{k}" for k in range(N_HASHES)])
            .collect()
        }
    for doc, partner, n in hits:
        if n is None:  # a bucket candidate, verified here
            n = _n_agree(sigs[doc], p_sigs.get(partner, ()))
            if n < min_agree:
                continue
        out.add((doc, partner, n, False))
    return out


def _index_hits(
    spark: SparkSession,
    sigs: dict,
    index_sigs: DataFrame,
    min_agree: int,
    bucketed: Sequence[DataFrame] | None,
) -> DataFrame:
    """:func:`near_dup_probe`'s one index query: (doc_id, partner,
    n_agree) for every band-key match of the ``sigs`` (doc_id ->
    signature) against the index, verified where the index side carries
    signatures and with a null ``n_agree`` for bucket-relation
    candidates."""
    sig_cols = [f"h{k}" for k in range(N_HASHES)]
    key_cols = ["band"] + [f"k{r}" for r in range(ROWS_PER_BAND)]
    probe = F.broadcast(
        local_relation(
            spark,
            [(doc, *key, *sig) for doc, sig in sigs.items() for key in _band_keys(sig)],
            "doc_id long, band int, "
            + ", ".join(f"{c} long" for c in key_cols[1:] + sig_cols),
        )
    )
    agree = sum(
        (F.col(f"h{k}") == F.col(f"p{k}")).cast("int") for k in range(N_HASHES)
    )
    hits = (
        (index_sigs if bucketed is None else bucketed[1])
        .select(
            F.col("doc_id").alias("partner"),
            *[F.col(f"h{k}").alias(f"p{k}") for k in range(N_HASHES)],
            F.explode(F.array(*_band_structs())).alias("bb"),
        )
        .select("partner", *[f"p{k}" for k in range(N_HASHES)], "bb.*")
        .join(probe, key_cols)
        .select("doc_id", "partner", agree.alias("n_agree"))
        .filter(F.col("n_agree") >= min_agree)
    )
    if bucketed is not None:
        hits = hits.unionByName(
            bucketed[0]
            .select(F.col("doc_id").alias("partner"), *key_cols)
            .join(probe, key_cols)
            .select("doc_id", "partner", F.lit(None).cast("int").alias("n_agree"))
        )
    return hits


def bloom_build(
    keys: DataFrame, m_bits: int = 1 << 16, k: int = 3, key_col: str = "key"
) -> DataFrame:
    """Build an engine-portable Bloom filter over a key relation as a
    (word_idx, bits) BITMAP RELATION — ceil(m_bits/63) rows of packed
    int64 words (63 bits per word: bit 63 never set, so no engine hits
    signed-shift overflow and the oracle's ``1 << j`` stays in BIGINT
    range).

    Bit positions come from k independent md5-derived hashes
    (md5('bloom:i:' || key) % m_bits) and the build is one explode +
    one ``bit_or`` groupBy — a mergeable, single-pass aggregate like
    the HLL/quantile sketches (workload/relational.py).  Spark's own
    bloom_filter_agg produces an opaque binary no other engine can
    read; this relation form is byte-reproducible in SQL, diffable,
    and join-broadcastable.

    Use with :func:`bloom_probe` to pre-filter an incoming batch
    map-side before an exact (or :func:`near_dup_probe` signature)
    probe: at 100 TB the filter is ~m_bits/8 bytes regardless of
    corpus size, so membership against billions of indexed digests
    costs one broadcast + a per-row bit test, no shuffle of the
    index.  No false negatives by construction; false-positive rate
    ~(1 - e^(-k*n/m))^k picks m."""
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    (
                        md5_int(
                            F.concat(
                                F.lit(f"bloom:{i}:"), F.col(key_col).cast("string")
                            )
                        )
                        % m_bits
                    )
                    for i in range(k)
                ]
            )
        ).alias("p")
    )
    return (
        pos.select(
            F.expr("p div 63").alias("word_idx"),
            F.expr("shiftleft(1L, cast(p % 63 as int))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 3,
    key_col: str = "key",
    out_col: str = "might_contain",
) -> DataFrame:
    """Probe a :func:`bloom_build` bitmap: adds ``out_col`` (boolean,
    true iff ALL k bits for the row's key are set — i.e. the key MIGHT
    be in the indexed set; false is definitive absence).  A NULL key
    probes False (definitive: NULL was never indexed), keeping the
    column strictly boolean.

    Plan: the bitmap relation (≤ m_bits/63 rows — a few MB even at
    m=2^30) collapses to ONE map-typed row, crossJoin-broadcast onto
    the probe side, and all k bit tests evaluate as a map-side
    ``element_at`` conjunction — ZERO shuffles of the probed relation,
    the same shape as q_decontaminate's broadcast shingle probe.  (An
    earlier formulation exploded k probe rows per key and re-grouped
    by key to AND them — a corpus-sized hash shuffle that defeated the
    point of the filter.)"""
    bitmap = bloom.groupBy().agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("word_idx", "bits")))
        ).alias("_bloom_bm")
    )
    res = df.crossJoin(F.broadcast(bitmap))
    pos_cols = []
    for i in range(k):
        c = f"_bloom_p{i}"
        pos_cols.append(c)
        res = res.withColumn(
            c,
            md5_int(F.concat(F.lit(f"bloom:{i}:"), F.col(key_col).cast("string")))
            % m_bits,
        )
    tests = []
    for c in pos_cols:
        w = F.expr(f"shiftleft(1L, cast({c} % 63 as int))")
        bits = F.coalesce(
            F.element_at(F.col("_bloom_bm"), F.expr(f"{c} div 63")),
            F.lit(0).cast("long"),
        )
        tests.append(bits.bitwiseAND(w) == w)
    conj = tests[0]
    for t in tests[1:]:
        conj = conj & t
    out = F.when(F.col(key_col).isNull(), F.lit(False)).otherwise(conj)
    return res.withColumn(out_col, out).drop("_bloom_bm", *pos_cols)


def prefix_jaccard_join(
    hashes: DataFrame, threshold_permille: int = 800
) -> DataFrame:
    """EXACT set-similarity self-join (jaccard >= t) via prefix
    filtering (SSJoin/PPJoin family, Chaudhuri et al. 2006 / Xiao et
    al. 2008) — the all-pairs answer WITHOUT the all-pairs join and
    WITHOUT LSH's recall loss.

    Lemma: order every document's shingle set by global rarity
    (document frequency asc, hash asc — a total order).  If
    J(A,B) >= t then |A∩B| >= ceil(t*|A|), so the intersection cannot
    fit entirely inside A's last ceil(t*|A|)-1 elements: the first
    |A| - ceil(t*|A|) + 1 elements (the PREFIX) of A and of B must
    share a token.  Indexing only prefixes therefore finds every
    qualifying pair, and the exact verify keeps precision at 1 — the
    mirror oracle is the plain all-pairs SQL, so the test literally
    proves the pruning loses nothing.

    ``threshold_permille``: t as an integer per-mille so the prefix
    length ceil(t*n) is exact integer arithmetic — a float 0.8*n
    rounds UP for multiples of 5 (0.8*5 == 4.000000000000001), which
    would SHORTEN the prefix and break the recall guarantee.

    Scale shape: rarity ranking is one window per document; the index
    self-join touches only prefix tokens, whose posting lists are the
    RAREST by construction (a stop-shingle shared by a million docs
    lands in nobody's prefix at realistic thresholds) — that inversion
    is what kills the quadratic hot-key blowup of the naive inverted
    index.  Verification is linear in candidates.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    t = threshold_permille
    # the shingle relation feeds dfreq, the ranked prefix join, sizes
    # and both verify sides — persist so the tokenize+shingle+md5
    # chain runs once (the duplicate_spans / lsh_candidates pattern)
    hashes = hashes.persist(StorageLevel.MEMORY_AND_DISK)  # caller-owned: __init__ contract
    # n folded into the ranking window: the
    # row_number window already shuffles hashes⨝dfreq by doc_id, and
    # count(*) over the SAME partition IS the per-doc shingle count:
    # dfreq covers every h, so the inner join preserves all of a doc's
    # rows and the windowed count equals the old groupBy(doc_id)
    # aggregate exactly.  Removes the separate sizes aggregate + the
    # doc_id join that fed the prefix filter.  The count rides the
    # SAME (partition, order) spec as row_number with an explicit
    # whole-partition frame — identical value, but both functions
    # evaluate in ONE WindowExec over one sort (an unordered count
    # window would plan its own second sort of the relation).
    dfreq = hashes.groupBy("h").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "h")
    w_all = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        hashes.join(dfreq, "h")
        .withColumn("n", F.count("*").over(w_all))
        .withColumn("rn", F.row_number().over(w_rank))
    )
    # prefix length = n - ceil(t*n/1000) + 1, all-integer
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr(f"(n * {t} + 999) div 1000") + 1
    ).select("doc_id", "h")
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return ngram_jaccard_pairs(hashes, t / 1000.0, candidates=cands)


def prefix_containment_join(
    hashes: DataFrame,
    threshold_permille: int = 800,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT set-CONTAINMENT self-join: ordered pairs (doc_a, doc_b,
    containment) with C(A→B) = |A∩B| / |A| >= t — the asymmetric
    near-dup relation resemblance misses: a short document quoted
    wholesale inside a much longer one has jaccard ≈ |A|/|B| (tiny)
    but containment ≈ 1.  Training-data dedup wants both signals
    (Lee et al. 2022 dedup taxonomy: near-dup AND subsumption).

    Prefix lemma (asymmetric form): if |A∩B| >= ceil(t*|A|) then the
    intersection cannot hide entirely in A's last ceil(t*|A|)-1
    rarity-ordered elements, so A's PREFIX (first
    |A| - ceil(t*|A|) + 1 rarest shingles) must share a hash with B —
    with SOME element of B, not just B's prefix, so the probe joins
    A-prefixes against the FULL index.  Recall is exact; verification
    keeps precision at 1 (the mirror oracle is the all-pairs SQL).

    Scale note: unlike the symmetric join, the full-index side means
    a stop-shingle's posting list does meet every prefix that carries
    it; rarity ordering keeps such shingles out of PREFIXES (their df
    rank is last), so the hot list is joined only against the few
    documents rare-enough-to-prefix it — the blowup is one-sided and
    bounded.  Pass ``max_doc_freq`` to additionally drop
    ultra-common shingles from the INDEX side (containment of a
    surviving pair is then understated by at most the dropped
    overlap — the standard posting-cutoff trade-off).  Integer
    per-mille threshold for the same exact-prefix-length reason as
    :func:`prefix_jaccard_join`."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    t = threshold_permille
    hashes = hashes.persist(StorageLevel.MEMORY_AND_DISK)  # caller-owned: __init__ contract
    # sizes stays for the candidate pruning and the verify gate below;
    # the RANKED relation no longer joins it — n rides the ranking
    # window itself, on the SAME (partition, order) spec as row_number
    # with a whole-partition frame so both evaluate in one WindowExec
    # over one sort (the same fold as the jaccard form; dfreq's inner
    # join preserves every row, so the windowed count equals the
    # aggregate)
    sizes = hashes.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = hashes.groupBy("h").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "h")
    w_all = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        hashes.join(dfreq, "h")
        .withColumn("n", F.count("*").over(w_all))
        .withColumn("rn", F.row_number().over(w_rank))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr(f"(n * {t} + 999) div 1000") + 1
    ).select("doc_id", "h")
    index = hashes
    if max_doc_freq is not None:
        common = (
            dfreq.filter(F.col("df") > max_doc_freq).select("h")
        )
        index = hashes.join(F.broadcast(common), "h", "left_anti")
    cands = (
        prefix.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact size pruning before the verify join: |A∩B| <= |B|, so
    # containment >= t forces |B| >= t*|A| — integer arithmetic, zero
    # recall loss, and it is the candidate filter that kills the
    # long-doc-prefix x short-doc collisions the verify would
    # otherwise score for nothing
    sz = sizes.select("doc_id", "n")
    cands = (
        cands.join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("_na")), "doc_a"
        )
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("_nb")), "doc_b")
        .filter(F.col("_nb") * 1000 >= F.lit(t) * F.col("_na"))
        .select("doc_a", "doc_b")
    )
    ha = hashes.select(F.col("doc_id").alias("doc_a"), "h")
    hb = hashes.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cands.join(ha, "doc_a")
        .join(hb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    # integer-exact gate (inter*1000 >= t*n_a), matching the integer
    # prefix arithmetic — a float threshold compare could disagree
    # with the oracle at exact-boundary pairs
    return (
        inter.join(na, "doc_a")
        .filter(F.col("inter") * 1000 >= F.lit(t) * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("n_a"), 6).alias("containment"),
        )
    )


def source_overlap(sh: DataFrame, sources: DataFrame | None = None) -> DataFrame:
    """EXACT pairwise Jaccard overlap between data sources — the
    cross-source contamination matrix a data card reports before
    mixing corpora (is src_a largely a re-crawl of src_b?).

    ``sh``: (doc_id, h) shingle hashes (:func:`shingle_hashes`) with
    ``sources``: (doc_id, source) — or, with ``sources=None``, ``sh``
    already carries a ``source`` column (need not be distinct: the
    h-level set aggregation dedups).  Callers that derive shingles
    from a table that has the source on every row should use the
    second form: it deletes the corpus-sized doc_id join outright.

    Plan (inverted index, never a doc-level or source-level all-pairs
    join): ONE corpus-sized shuffle — groupBy h whose
    partial collect_set dedups (source, h) occurrences map-side, so
    the old separate (source,h)-distinct exchange bought nothing —
    collecting the <= S-long sorted source set per shingle.  That
    grouped relation is persisted and feeds BOTH outputs: the ordered
    pair expansion (array expressions -> partial-agg count per pair,
    <= S^2 groups) and the per-source sizes (explode the sets back
    out -> count per source == distinct (source,h) count, since sets
    are deduped), so the shingle subtree appears once in the plan
    instead of once per branch.  Per-shingle work is bounded
    by S^2 regardless of posting-list length, so a shingle present in
    every source costs S^2, not |postings|^2 — the same hot-key bound
    the banded-LSH plans rely on.  The S-source set also caps
    collect_set state per key."""
    from pyspark import StorageLevel

    if sources is not None:
        ss = sh.join(sources, "doc_id").select("source", "h")
    else:
        ss = sh.select("source", "h")
    # caller-owned cache (operators/__init__ contract): the grouped
    # inverted index feeds sizes AND the pair expansion
    grouped = (
        ss.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    srcs = F.col("srcs")
    # ordered pairs (srcs[i], srcs[j]) for i < j from the sorted set
    pair_structs = F.flatten(
        F.transform(
            srcs,
            lambda x, i: F.transform(
                F.slice(srcs, i + F.lit(2), F.size(srcs)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        grouped.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("src_a"), F.col("p.b").alias("src_b"))
        .agg(F.count("*").alias("shared"))
    )
    na = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("_na")))
    nb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("_nb")))
    return (
        inter.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            F.round(
                F.col("shared") / (F.col("_na") + F.col("_nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )
