"""Text-analysis workload over the documents table — the reference
pipeline's semantics (token counting A1-A3, association measures M1-M4,
similarity aggregates D1-D6) transplanted onto a generic corpus, plus
the quality/statistics operators a training-data pipeline needs.

The token/assoc queries REUSE the engine's pipeline operators
(corpus_counts, association_measures, similarity_measures) on an
emission relation where lexeme=token and feature=source — demonstrating
the operators are corpus-agnostic.

Scale notes: tokenization stays entirely in JVM array expressions
(split/filter/transform — no Python, no shuffle until the aggregation);
per-document statistics never shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.assoc import association_measures
from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts
from semantic_similarity_system_using_aws_mapreduce_spark.operators.similarity import similarity_measures
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

STOPWORDS = ["the", "a", "of", "in", "to", "and", "is", "on", "for", "with"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_docs behind sources.tables.spread_small_scan — ONLY for
    queries whose per-row expansion is heavy enough to beat the extra
    round-robin exchange AND whose aggregates are order-independent
    (micro-quantized sums).  Measured at sf0.1: the char-bigram
    explode (q_lm_quality) gains 2.5x (3.6 -> 1.46 s) and the BM25
    postings build is neutral-to-better; the cheap token-split
    queries REGRESSED under the same treatment (q_token_counts 0.43
    -> 1.03 s) and keep the raw scan, as do per-document map-only
    queries (pinned zero-exchange plans) and FP-row-sum queries
    (q_source_similarity — summation-order hash stability)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.tables import spread_small_scan

    return spread_small_scan(_docs(spark, sf_dir))


def _tokens_col():
    return F.filter(F.split(F.col("text"), " "), lambda t: t != "")


def _token_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lexeme=token, feature=source, count=1) — the generic emission
    relation the pipeline count operators consume."""
    return (
        _docs(spark, sf_dir)
        .select(F.col("source"), F.explode(_tokens_col()).alias("token"))
        .select(
            F.col("token").alias("lexeme"),
            F.col("source").alias("feature"),
            F.lit(1).alias("count"),
        )
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    emissions = _token_emissions(spark, sf_dir)
    return corpus_counts(emissions).lexeme_counts.select(
        F.col("lexeme").alias("token"), F.col("l_count").alias("n")
    )


def q_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    emissions = _token_emissions(spark, sf_dir)
    return emissions.agg(
        F.sum("count").alias("total_tokens"),
        F.countDistinct("lexeme").alias("distinct_tokens"),
    )


def q_token_source_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M4 association measures with lexeme=token, feature=source —
    the full Step2+Step3 join pipeline (J1/J2) on fixture data."""
    counts = corpus_counts(_token_emissions(spark, sf_dir))
    assoc = association_measures(counts, mode="parity")
    return assoc.select(
        F.col("lexeme").alias("token"),
        F.col("feature").alias("source"),
        F.col("assoc_freq").alias("assoc_freq"),
        F.round("assoc_prob", 6).alias("assoc_prob"),
        F.round("assoc_pmi", 6).alias("assoc_pmi"),
        F.round("assoc_ttest", 6).alias("assoc_ttest"),
    )


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D6 between every source pair over aligned token-probability
    vectors (the J4 zero-filled alignment + A5 aggregation, standard
    mode) — the flagship shape of the whole engine."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(_tokens_col()).alias("token"))
    counts = toks.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    # Per-source totals as a tiny combiner-friendly aggregate joined
    # back broadcast, NOT a sum() over a partitionBy(source) window:
    # the window re-shuffled the whole (source, token) relation into
    # |sources| hot partitions and sorted it (this form has one
    # Exchange + Sort fewer; the totals exchange moves ~|sources|
    # partial rows).  cnt is an integer count, so the grouped sum is
    # bit-identical to the windowed sum regardless of order.
    totals = counts.groupBy("source").agg(F.sum("cnt").alias("_tot"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source", "token", (F.col("cnt") / F.col("_tot")).alias("p")
    )
    sources = probs.select("source").distinct()
    pairs = (
        sources.alias("a")
        .crossJoin(sources.alias("b"))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
    )
    pairs_long = pairs.select(
        "s1", "s2", F.explode(F.array("s1", "s2")).alias("source")
    )
    aligned = (
        probs.join(F.broadcast(pairs_long), "source")
        .groupBy("s1", "s2", "token")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("source") == F.col("s1"), F.col("p"))), F.lit(0.0)
            ).alias("x"),
            F.coalesce(
                F.max(F.when(F.col("source") == F.col("s2"), F.col("p"))), F.lit(0.0)
            ).alias("y"),
        )
    )
    measures = similarity_measures(F.col("x"), F.col("y"), mode="standard")
    return aligned.groupBy("s1", "s2").agg(
        *[F.round(expr, 6).alias(name) for name, expr in measures.items()]
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics — all JVM array expressions, no
    shuffle, no UDF.  The token array is materialized once in its own
    projection (multi-use non-cheap aliases are not collapsed by
    Catalyst, so the split runs once per row, not once per use)."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size("toks")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens_col().alias("toks"))
        .select(
            "doc_id",
            n.alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct"),
            F.round(F.size(F.array_distinct("toks")) / n, 6).alias("type_token_ratio"),
            F.round(
                F.aggregate("toks", F.lit(0), lambda acc, t: acc + F.length(t)) / n, 6
            ).alias("avg_token_len"),
            F.round(
                F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))) / n, 6
            ).alias("stopword_ratio"),
        )
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality flags (operators/text_analysis.
    gopher_rules): integer-arithmetic rule evaluation, one map-side
    expression chain, zero shuffles — see the operator docstring."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


# Deterministic page template for q_main_content: wrap each document's
# plain text in crawl-page furniture (link-dense nav / aside / footer,
# a short heading, a style block) so the block-level extractor has
# real boilerplate to strip.  Shared verbatim with the DuckDB oracle —
# the query verifies the EXTRACTION arithmetic, not the template.
_MC_SEG0 = (
    '<html><head><title>Doc</title><style>p{color:red}</style></head>'
    '<body><nav><a href="/">Home</a> <a href="/catalog">Catalog</a> '
    '<a href="/login">Sign in</a></nav><h1>Document '
)
_MC_SEG1 = '</h1><div class="content">'
_MC_SEG2 = (
    '</div><aside><a href="/ad">Sponsored offer</a> '
    '<a href="/deals">Daily deals</a> shop</aside>'
    '<footer><a href="/about">About</a> <a href="/terms">Terms</a> '
    "(c) example</footer></body></html>"
)


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level main-content extraction (operators/text_analysis.
    main_content — the jusText text/link-density shape): each document
    is wrapped in the deterministic page template above, and the
    extractor must strip the nav/aside/footer furniture while the body
    text survives — per-page boilerplate removal that corpus-level
    paragraph dedup can't do when a template appears once."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import main_content

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit(_MC_SEG0),
            F.col("doc_id").cast("string"),
            F.lit(_MC_SEG1),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_MC_SEG2),
        ).alias("html"),
    )
    out = main_content(docs, "html")
    return out.select(
        "doc_id",
        F.substring("main_text", 1, 80).alias("main_prefix"),
        F.length("main_text").cast("long").alias("main_len"),
        "n_blocks",
        "n_good_blocks",
        "total_chars",
        "good_chars",
        F.col("boilerplate_ppm").cast("long").alias("boilerplate_ppm"),
    )


def _main_content_oracle() -> str:
    """q_main_content's DuckDB mirror: the same template concat, the
    same preclean/split/score/aggregate chain re-expressed over RE2 +
    list lambdas.  Every regex is shared verbatim with the operator
    (they were written backreference-free for exactly this); entity
    decode uses non-regex replace() on the same literals in the same
    order; the good-block rule is the same integer cross-multiply; ppm
    is exact integer division on both engines."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import (
        _BLOCK_SPLIT_RE,
        MAIN_CONTENT_MAX_LINK_PCT,
        MAIN_CONTENT_MIN_CHARS,
    )

    good = (
        f"s -> (s).n_chars >= {MAIN_CONTENT_MIN_CHARS} AND "
        f"(s).a_chars * 100 <= {MAIN_CONTENT_MAX_LINK_PCT} * (s).n_chars"
    )
    return rf"""
        WITH h AS (
          SELECT doc_id,
                 '{_MC_SEG0}' || doc_id::VARCHAR || '{_MC_SEG1}'
                   || coalesce(text, '') || '{_MC_SEG2}' AS html
          FROM documents),
        pre AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(html,
                     '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g') AS c
          FROM h),
        raw AS (
          SELECT doc_id, list_transform(
                   regexp_split_to_array(c, '{_BLOCK_SPLIT_RE}'),
                   b -> struct_pack(
                     txt := trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(b, '(?s)<[^>]*>', ' ', 'g'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                       '\s+', ' ', 'g')),
                     a_chars := coalesce(list_aggregate(list_transform(
                         regexp_extract_all(b, '(?is)<a[^>]*>([^<]*)', 1),
                         a -> length(trim(regexp_replace(a, '\s+', ' ', 'g')))),
                         'sum'), 0))) AS st
          FROM pre),
        st AS (
          SELECT doc_id, list_transform(st, s -> struct_pack(
                   txt := (s).txt, n_chars := length((s).txt),
                   a_chars := (s).a_chars)) AS st
          FROM raw),
        agg AS (
          SELECT doc_id,
                 array_to_string(list_transform(
                     list_filter(st, {good}), s -> (s).txt), ' ') AS main_text,
                 len(list_filter(st, s -> (s).n_chars > 0))::BIGINT AS n_blocks,
                 len(list_filter(st, {good}))::BIGINT AS n_good_blocks,
                 coalesce(list_aggregate(list_transform(st,
                     s -> (s).n_chars), 'sum'), 0)::BIGINT AS total_chars,
                 coalesce(list_aggregate(list_transform(
                     list_filter(st, {good}), s -> (s).n_chars), 'sum'),
                     0)::BIGINT AS good_chars
          FROM st)
        SELECT doc_id,
               substr(main_text, 1, 80) AS main_prefix,
               length(main_text)::BIGINT AS main_len,
               n_blocks, n_good_blocks, total_chars, good_chars,
               (CASE WHEN total_chars > 0
                     THEN (1000000 * (total_chars - good_chars)) // total_chars
                     ELSE 0 END)::BIGINT AS boilerplate_ppm
        FROM agg
    """


#: top-k cut for q_bpe_pair_counts (deterministic tie-break on pair)
BPE_PAIRS_TOPK = 40


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-round BPE pair statistics (operators/bpe.pair_counts):
    the corpus collapses to the weighted vocabulary in ONE groupBy,
    and pair counting then runs on vocab rows only — the shape that
    makes the n_merges training loop affordable (see operators/bpe).
    Top-{BPE_PAIRS_TOPK} pairs, ties broken lexicographically so the
    cut is engine-stable."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.bpe import (
        _init_symbols,
        pair_counts,
        word_counts,
    )

    pc = pair_counts(_init_symbols(word_counts(_docs(spark, sf_dir))))
    return (
        pc.select(F.concat_ws("|", "left", "right").alias("pair"), "weight")
        .orderBy(F.desc("weight"), F.asc("pair"))
        .limit(BPE_PAIRS_TOPK)
    )


#: merge rounds for q_bpe_merges — small enough that the oracle can
#: unroll them into chained CTEs (the q_domain_rank precedent)
BPE_MERGE_ROUNDS = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERATIVE BPE training loop, hash-verified end to end:
    learn {BPE_MERGE_ROUNDS} merges (operators/bpe.bpe_train — one
    corpus pass, then vocab-sized rounds with a deterministic
    lexicographic tie-break) and return them in rank order.  The
    oracle unrolls the same rounds into chained CTEs; its merge
    application wraps every symbol in chr(31) sentinels so a plain
    non-regex replace() is boundary-safe and exactly equivalent to
    the engine's anchored-regex merge (RE2 has no lookbehind)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.bpe import bpe_train

    # mode="distributed": the oracle row keeps verifying the
    # distributed per-round loop; the in-process path (which auto mode
    # picks at this vocab size) is oracle-verified by
    # q_bpe_fertility and cross-path-identity-pinned in test_bpe
    merges = bpe_train(
        _docs(spark, sf_dir),
        n_merges=BPE_MERGE_ROUNDS,
        min_count=2,
        mode="distributed",
    )
    rows = [(i + 1, l, r) for i, (l, r) in enumerate(merges)]
    return local_relation(spark, rows, "rank int, left string, right string")


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale tokenization statistics under the learned
    {BPE_MERGE_ROUNDS}-merge model (operators/bpe.corpus_fertility):
    the distinct vocabulary is encoded ONCE and broadcast back onto
    the exploded corpus — never re-encoding per occurrence — and each
    doc reports words, pieces, and exact-integer fertility (the
    pieces-per-word metric tokenizers are judged by).  Oracle = the
    same unrolled CTE chain as q_bpe_merges, its final symbol state
    joined back to the per-doc word relation."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.bpe import bpe_train, corpus_fertility

    docs = _docs(spark, sf_dir)
    merges = bpe_train(docs, n_merges=BPE_MERGE_ROUNDS, min_count=2)
    return corpus_fertility(docs, merges)


def q_bpe_vocab_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary segmentation under the learned tokenizer — trains
    the {BPE_MERGE_ROUNDS}-merge model, then replays the merges over
    the DISTINCT-word relation (operators/bpe.bpe_encode_words: encode
    once per vocabulary entry; a full-corpus tokenization joins this
    kilobyte table back rather than re-encoding per occurrence).
    Oracle = the final round's symbol state of the same unrolled CTE
    chain q_bpe_merges verifies."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.bpe import (
        bpe_encode_words,
        bpe_train,
        word_counts,
    )

    docs = _docs(spark, sf_dir)
    merges = bpe_train(docs, n_merges=BPE_MERGE_ROUNDS, min_count=2)
    wc = word_counts(docs)
    return (
        bpe_encode_words(wc, merges)
        .join(wc, "word")
        .select(
            "word",
            F.size("pieces").cast("int").alias("n_pieces"),
            F.col("n").alias("n_occurrences"),
        )
    )


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.avg(F.size(_tokens_col())), 6).alias("avg_tokens"),
        )
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min md5-derived 60-bit integer over word
    3-gram shingles (MinHash with one hash function — the document-level
    fingerprint a near-dup pipeline keys on).  Pure JVM expressions."""
    # toks MUST be a materialized column here: the lambda dereferences
    # it via element_at, and HOF lambdas are interpreted per element —
    # an inline split-expression would re-tokenize the document for
    # every element_at call (measured 9x slower).
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
            F.element_at(F.col("toks"), i + 3),
        ),
    )
    fp = F.array_min(
        F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens_col().alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", fp.alias("fingerprint"))
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification (n-gram heuristic):
    predicted language + confidence per doc, with agreement flag
    against the labeled lang column."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import identify_language

    out = identify_language(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "lang_pred",
        "lang_score",
        (F.col("lang_pred") == F.col("lang")).alias("agrees"),
    )


def q_lang_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification WITH a declared-language prior — the
    crawl path's ``<html lang=...>`` consumption (sources/warc.py emits the column, run_curation --lang-id feeds it
    through this exact operator): a declared PROFILED language wins
    unless the stopword statistics strongly disagree (integer margin,
    operators/text_analysis.identify_language).  The documents table
    has no declaration column, so the query derives one
    deterministically — a correct declaration, a wrong-but-plausible
    region-subtagged one, an unprofiled code, and none — exercising
    every branch of the prior logic under the oracle."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import identify_language

    declared = (
        F.when(F.col("doc_id") % 4 == 0, F.col("lang"))
        .when(F.col("doc_id") % 4 == 1, F.lit("FR-ca"))
        .when(F.col("doc_id") % 4 == 2, F.lit("xx"))
    )
    staged = _docs(spark, sf_dir).withColumn("declared", declared)
    out = identify_language(staged, prior_col="declared")
    return out.select(
        "doc_id",
        "declared",
        "lang_pred",
        "lang_score",
        (F.col("lang_pred") == F.lower(F.substring("declared", 1, 2))).alias(
            "kept_prior"
        ),
    )


def q_regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex piece counts."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import rolling_fingerprint

    return rolling_fingerprint(_docs(spark, sf_dir))


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality score (the CCNet/C4 signal,
    self-trained): per-document cross-entropy under the corpus's own
    character-bigram distribution.  Degenerate/boilerplate/wrong-
    charset text scores far from the corpus norm; production pipelines
    use a pretrained KenLM — the relational shape is identical, only
    the probability table changes.

    Plan: both branches (frequency table, scoring) grow from ONE
    per-(doc, bigram) pre-aggregation, so every shuffle carries per-doc
    VOCABULARY rows, never per-occurrence rows — the explode itself is
    map-side and recomputed per branch (the exploded relation is ~2
    bytes-per-char x corpus, far larger than its source parquet, so
    recomputing beats materializing at 100 TB; measured at sf0.1 this
    formulation runs ~4.5-5.3 s warm vs 6.6 s for per-occurrence
    scoring, and caching the pre-explode projection only bought ~7%).
    The frequency table collapses to ~|alphabet|^2 keys and is
    broadcast."""
    t = F.lower(F.col("text"))
    bigrams = (
        _docs_spread(spark, sf_dir)
        .select("doc_id", t.alias("s"))
        .filter(F.length("s") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("s") - 1)).alias("i"),
            "s",
        )
        .select("doc_id", F.expr("substring(s, i, 2)").alias("bg"))
    )
    dtf = bigrams.groupBy("doc_id", "bg").agg(F.count("*").alias("m"))
    # freq DIRECTLY from the occurrence stream, not via dtf
    # ("aggregate before you shuffle"): sum(m) grouped by bg would
    # re-run the whole explode AND its corpus-wide (doc_id, bg)
    # exchange just to build the broadcast table, while count(*) by bg
    # over the same stream partial-aggregates map-side to
    # ~|alphabet|^2 rows — identical counts, kilobytes shuffled.  The
    # normalizer n rides the same tiny relation as a whole-relation
    # window sum instead of a third corpus pass + 1-row crossJoin
    # (2 explode passes and 1 corpus-wide exchange, not 3 and 2).
    # the keyless window funnels freq through ONE partition — safe
    # here ONLY because freq is bounded at ~|alphabet|^2 rows (char
    # bigram types, not occurrences); do not copy this pattern to an
    # unbounded relation
    freq = (
        bigrams.groupBy("bg")
        .agg(F.count("*").alias("c"))
        .withColumn("n", F.sum("c").over(Window.partitionBy()))
    )
    # Quantize each -log2 p term to int64 micro-bits BEFORE summing:
    # a double avg() is summation-order dependent across engines and
    # partitionings, and a group mean landing on the 6-dp rounding
    # boundary would flip the driver hash at larger scale factors (the
    # same failure class the events readers fix with micro-quantized
    # values).  Int64 sums have one correct answer (weighting by m is
    # exactly the per-occurrence sum, since the term is per bigram
    # TYPE); divide and round only at the end, identically in the
    # oracle.
    nlp_micro = F.round(-F.log2(F.col("c") / F.col("n")) * 1000000, 0).cast("long")
    return (
        dtf.join(F.broadcast(freq), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(
                F.sum(F.col("m") * nlp_micro) / F.sum("m") / 1000000.0, 6
            ).alias("cross_entropy"),
        )
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of word bigrams that are repeats and the share taken by
    the single most frequent bigram (high values flag boilerplate /
    degenerate text for a training-data quality gate).

    Plan: ZERO shuffles — the signal is per-document, so it
    never needs to leave the row.  Sort the row's bigram array and
    fold run lengths in one pass (top_c = longest run, dup_c = sum of
    runs > 1): the explode -> groupBy(doc, bigram) -> groupBy(doc)
    form shuffled the whole corpus vocabulary twice to compute what an
    array_sort + aggregate does map-side (measured sf0.1 min-of-5:
    0.73 -> 0.48 s; rows identical).  Per-row cost is O(L log L) in
    document length — same bound the old per-key hash tables had.
    """
    bgs = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i + 1),
                F.element_at(F.col("toks"), i + 2),
            ),
        )
    )
    # run-length fold over the sorted array; bigrams are never null
    # (concat_ws), so prev <=> x only matches a real run.  Counts are
    # exact integers — the fractions round identically to the old
    # aggregation's.
    state = "struct(cast(null as string) as prev, 0L as run, 0L as top, 0L as dup)"
    step = """(acc, x) -> IF(acc.prev <=> x,
            named_struct('prev', x, 'run', acc.run + 1L, 'top', acc.top, 'dup', acc.dup),
            named_struct('prev', x, 'run', 1L,
                         'top', greatest(acc.top, acc.run),
                         'dup', acc.dup + IF(acc.run > 1L, acc.run, 0L)))"""
    fin = """acc -> named_struct(
            'top', greatest(acc.top, acc.run),
            'dup', acc.dup + IF(acc.run > 1L, acc.run, 0L))"""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens_col().alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", bgs.alias("bgs"))
        .select(
            "doc_id",
            F.size("bgs").cast("long").alias("n_bigrams"),
            F.expr(f"aggregate(bgs, {state}, {step}, {fin})").alias("_a"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("_a.top") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
            F.round(F.col("_a.dup") / F.col("n_bigrams"), 6).alias("dup_bigram_frac"),
        )
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF document-term weighting with the top-3 terms per doc:
    term frequency per (doc, token), document frequency per token,
    idf = ln(N/df), window top-k by weight.

    Scale notes: the df relation is vocabulary-sized — joined on token
    (shuffle join; the Zipfian head is exactly the low-idf tail, and
    AQE skew-split covers it).  N is a 1-row aggregate broadcast via
    crossJoin (the S5 counters pattern).  Ties in tfidf break on token
    so the top-3 cut is deterministic.
    """
    from pyspark import StorageLevel

    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # tf feeds both the df aggregation and the scoring join, and the
    # two consumers' exchanges differ (different agg functions), so
    # Catalyst gets no exchange reuse — without the persist the corpus
    # is tokenized and shuffled twice (visible as two parquet scans in
    # the physical plan).  Caller-owned cache: the returned lazy plan
    # reads it, so the caller releases it once the result is consumed
    # (operators/__init__ ownership contract).
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "rank", F.round("tfidf", 6).alias("tfidf"))
    )


CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows per document (context-window
    packing): chunk i covers tokens [1+i*stride, 1+i*stride+size).
    Pure map-side fan-out — sequence + posexplode + slice, no shuffle —
    so at 100 TB it is a scan-transform with zero exchanges; the
    chunk_hash column is the identity a chunk-level dedup keys on."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )


CMS_D = 3  # count-min depth (independent hash rows)
CMS_W = 512  # count-min width (cells per row)
HH_K = 20  # heavy hitters audited


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit: estimate the corpus
    frequency of the top-{HH_K} tokens from a {CMS_D}x{CMS_W} CMS and
    put the estimate next to the exact count (CMS never
    underestimates; overestimate bounded by collisions in the
    smallest cell).

    The sketch is the 100 TB side: a map-side explode into (row,
    cell) pairs collapsed by ONE partial-aggregated groupBy whose
    state is at most {CMS_D}x{CMS_W} cells regardless of vocabulary —
    the bounded-memory frequency structure (CM sketch, Cormode &
    Muthukrishnan 2005) where an exact token groupBy's state grows
    with the vocabulary.  Sketches from different corpus shards merge
    by cell-wise addition (the same mergeability argument as the
    HLL/quantile sketches in q_sketch_accuracy).  The exact side
    exists only to audit the estimates, exactly like
    q_sketch_accuracy's exact branch."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import (
        cms_estimate,
        cms_sketch,
    )

    toks = _docs(spark, sf_dir).select(F.explode(_tokens_col()).alias("token"))
    sketch = cms_sketch(toks, CMS_D, CMS_W)
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), "token").limit(HH_K)
    est = cms_estimate(top.select("token"), sketch, CMS_D, CMS_W)
    return top.join(est, "token").select(
        "token",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_count")).alias(
            "never_underestimates"
        ),
    )


HE_DIM = 8  # hashed-embedding dimensions


def q_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document embeddings with no model: the feature-
    hashing trick (Weinberger et al. 2009) — each token occurrence
    adds ±1 to the dimension its hash picks, sign from the next hash
    bit.  The resulting int64 vectors feed the same cosine / SRP-LSH /
    semantic-dedup operators as model embeddings (the
    bootstrap-before-you-have-a-model path), and integer accumulation
    makes them bit-reproducible by any engine with md5.

    Plan: map-side explode -> ONE groupBy(doc_id) with {HE_DIM}
    conditional integer sums (the Step4 24-aggregate pattern); state
    is one row per document."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("he:"), F.col("token"))), 1, 15), 16, 10
    ).cast("long")
    x = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens_col()).alias("token"))
        .select("doc_id", h.alias("hh"))
        # `div`, not `/`: integer bit extraction must not round
        .select(
            "doc_id",
            F.expr(f"hh % {HE_DIM}").alias("dim"),
            F.expr(f"1 - 2 * ((hh div {HE_DIM}) % 2)").alias("sign"),
        )
    )
    return x.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("dim") == j, F.col("sign")).otherwise(0))
            .cast("long")
            .alias(f"e{j}")
            for j in range(HE_DIM)
        ]
    )


# BM25 retrieval constants (Robertson/Spärck Jones Okapi BM25 with the
# non-negative idf variant ln(1 + (N - df + .5)/(df + .5)) every major
# search engine ships).  Query set fixed so the ranking is a stable
# oracle; duplicate terms within a query are collapsed (query tf == 1).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
BM25_QUERIES = [
    (0, "spark window agg"),
    (1, "fast table scan"),
    (2, "stream batch join vector"),
]
_BM25_TERMS = [
    (q, t) for q, s in BM25_QUERIES for t in dict.fromkeys(s.split())
]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: Okapi BM25 top-{BM25_TOPK} documents per
    query — the term-weighting baseline next to the embedding-ANN
    stack (q_ann_lsh_topk / q_cosine_pairs), the pairing every
    retrieval pipeline ships (BM25 candidates -> dense rerank).

    Scale shape — ONE corpus pass, NO corpus-wide shuffle anywhere:
    the corpus is tokenized once into a persisted NARROW per-doc
    relation (dl + the tokens matching the literal query-term set,
    filtered map-side), totals and the tf groupBy both read it (so
    the only aggregation shuffles postings of the query terms, not
    the corpus), df/idf derive from that same tiny tf relation, and
    N/Σdl is a 1-row broadcast (the S5 counters pattern).  At 100 TB
    this scans once and shuffles kilobytes.

    Cross-engine exactness: dl sums and tf are integers; each term's
    real-valued BM25 contribution is quantized to int64 micro-units
    BEFORE the per-(query, doc) sum (the q_lm_quality recipe — FP
    addition order can never flip a hash), and the rank window breaks
    score ties on doc_id over the INTEGER micro score.  The per-term
    contribution itself is floating point with the oracle MIRRORING
    the op order (the length normalization evaluates
    (B*dl)*N/Σdl in IEEE doubles on both sides, and JVM Math.log
    must agree with DuckDB's ln within the micro-unit rounding
    boundary) — op-order-mirrored FP plus quantization, not
    integer-exact arithmetic end to end; the differential tests cover
    the agreement empirically."""
    from pyspark import StorageLevel

    docs = _docs_spread(spark, sf_dir)
    # ONE corpus tokenize pass: totals (all-doc dl statistics) and tf
    # (query-term postings) would otherwise each re-tokenize the
    # corpus — and q_hybrid_rrf re-runs this whole query as its
    # lexical arm, so a double pass would double again.
    # The persisted relation is NARROW by construction: dl is one int
    # and _qtoks keeps only tokens in the ~10-term literal query set
    # (array_contains against a literal array, map-side), so the cache
    # holds two ints + a near-empty array per doc — not the token
    # arrays.  Caller-owned cache: the returned lazy plan reads it
    # twice, so the caller releases it once the result is consumed
    # (operators/__init__ ownership contract).
    qterm_lits = F.array(
        *[F.lit(t) for t in sorted({t for _, t in _BM25_TERMS})]
    )
    staged = (
        docs.select("doc_id", _tokens_col().alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").alias("dl"),
            F.filter(
                "_toks", lambda t: F.array_contains(qterm_lits, t)
            ).alias("_qtoks"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = staged.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qterms = local_relation(spark, _BM25_TERMS, "q_id long, term string")

    # df as a WINDOW count over the (tiny, query-terms-only) tf
    # relation instead of a separate dfreq aggregation + broadcast
    # join (same df values, oracle unchanged)
    tf = (
        staged.filter(F.size("_qtoks") > 0)
        .select("doc_id", "dl", F.explode("_qtoks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        .withColumn("df", F.count("*").over(Window.partitionBy("term")))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1
        * (
            1.0
            - BM25_B
            + BM25_B * F.col("dl") * F.col("n_docs") / F.col("sum_dl")
        )
    )
    contrib = (
        tf.crossJoin(F.broadcast(totals))
        .join(F.broadcast(qterms), "term")
        .select(
            "q_id",
            "doc_id",
            F.round(idf * tfn * 1_000_000, 0).cast("long").alias("c_micro"),
        )
    )
    scored = contrib.groupBy("q_id", "doc_id").agg(
        F.sum("c_micro").alias("s_micro")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("s_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "q_id",
            "rank",
            "doc_id",
            F.round(F.col("s_micro") / 1_000_000.0, 6).alias("bm25"),
        )
    )


QUERIES = {
    "q_bm25_search": q_bm25_search,
    "q_hash_embeddings": q_hash_embeddings,
    "q_cms_heavy_hitters": q_cms_heavy_hitters,
    "q_lm_quality": q_lm_quality,
    "q_doc_chunks": q_doc_chunks,
    "q_repetition_signals": q_repetition_signals,
    "q_tfidf_top_terms": q_tfidf_top_terms,
    "q_lang_id": q_lang_id,
    "q_lang_prior": q_lang_prior,
    "q_regex_token_stats": q_regex_token_stats,
    "q_rolling_fingerprint": q_rolling_fingerprint,
    "q_token_counts": q_token_counts,
    "q_token_totals": q_token_totals,
    "q_token_source_assoc": q_token_source_assoc,
    "q_source_similarity": q_source_similarity,
    "q_doc_quality": q_doc_quality,
    "q_gopher_rules": q_gopher_rules,
    "q_main_content": q_main_content,
    "q_bpe_fertility": q_bpe_fertility,
    "q_bpe_pair_counts": q_bpe_pair_counts,
    "q_bpe_merges": q_bpe_merges,
    "q_bpe_vocab_pieces": q_bpe_vocab_pieces,
    "q_lang_stats": q_lang_stats,
    "q_doc_fingerprint": q_doc_fingerprint,
}

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"

from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import (  # noqa: E402
    BPE_ISH_PATTERN,
    LANG_PROFILES,
    PRIOR_MARGIN_ADD,
    PRIOR_MARGIN_MULT,
    ROLL_BASE,
    ROLL_MOD,
)

_LANG_SCORE_COLS = ",\n               ".join(
    "len(list_filter(toks, t -> list_contains(["
    + ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    + f"], t))) * 1.0 / greatest(len(toks), 1) AS s_{lang}"
    for lang in sorted(LANG_PROFILES)
)

# integer hit-count twins of the score columns (the prior arithmetic
# compares integer margins, never ratios)
_LANG_HIT_COLS = ",\n               ".join(
    "len(list_filter(toks, t -> list_contains(["
    + ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    + f"], t))) AS h_{lang}"
    for lang in sorted(LANG_PROFILES)
)
_LANG_HPICK = "CASE " + " ".join(
    f"WHEN h_{lang} = besth THEN '{lang}'"
    for lang in sorted(LANG_PROFILES, reverse=True)
) + " END"
_LANG_PRIOR_H = "CASE prior " + " ".join(
    f"WHEN '{lang}' THEN h_{lang}" for lang in sorted(LANG_PROFILES)
) + " ELSE 0 END"
# Spark side picks max (score, lang) struct => on score ties the
# lexicographically GREATEST language code wins; the reverse-order CASE
# chain below reproduces that.
_LANG_PICK = "CASE " + " ".join(
    f"WHEN s_{lang} = best THEN '{lang}'"
    for lang in sorted(LANG_PROFILES, reverse=True)
) + " END"

_MD5INT = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_HE_SUM_COLS = ",\n               ".join(
    f"sum(CASE WHEN dim = {j} THEN sign ELSE 0 END)::BIGINT AS e{j}"
    for j in range(HE_DIM)
)

_BM25_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_TERMS)


def _bpe_vocab_pieces_oracle(rounds: int) -> str:
    """Vocabulary segmentation AFTER the learned merges — the same
    unrolled CTE chain as the merges oracle, selecting the final
    round's symbol state instead of the argmax rows."""
    final = f"""
        SELECT word,
               len(list_filter(string_split(syms, chr(31)),
                               s -> s <> ''))::INT AS n_pieces,
               n AS n_occurrences
        FROM r{rounds}"""
    return _bpe_unrolled(rounds) + final


def _bpe_unrolled(rounds: int) -> str:
    """The shared WITH-chain unrolling the BPE training rounds into
    CTEs (the q_domain_rank precedent for iterative operators).  Merge
    application: every symbol is wrapped in chr(31) sentinels, so a
    plain non-regex replace('<US>l<US><US>r<US>' -> '<US>lr<US>') is
    (a) boundary-safe — a symbol merely ENDING in `l` can never match,
    and (b) exactly the greedy left-to-right non-overlapping semantics
    of the engine's lookaround-anchored regexp_replace — RE2 (DuckDB)
    has no lookbehind, so the anchored regex itself is inexpressible
    there.  Exposes per round k: m{{k}} (the argmax merge) and r{{k}}
    (the (word, syms, n) state after applying it)."""
    us = "chr(31)"
    parts = [
        f"""
        words AS (SELECT unnest({_TOKS}) AS word FROM documents),
        wc AS (SELECT word, count(*)::BIGINT AS n FROM words GROUP BY word),
        r0 AS (SELECT word, array_to_string(
                   list_transform(range(1, length(word) + 1),
                       i -> {us} || substr(word, i, 1) || {us}), '')
               || {us} || '</w>' || {us} AS syms, n FROM wc)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
        ss{k} AS (SELECT list_filter(string_split(syms, chr(31)),
                                     s -> s <> '') AS ss, n
                  FROM r{k - 1}),
        p{k} AS (SELECT unnest(list_transform(range(1, len(ss)),
                                              i -> ss[i])) AS l,
                        unnest(list_transform(range(1, len(ss)),
                                              i -> ss[i + 1])) AS r,
                        n
                 FROM ss{k} WHERE len(ss) >= 2),
        c{k} AS (SELECT l, r, sum(n) AS w FROM p{k} GROUP BY l, r),
        m{k} AS (SELECT l, r FROM c{k} ORDER BY w DESC, l, r LIMIT 1),
        r{k} AS (SELECT word, replace(syms,
                     {us} || m{k}.l || {us} || {us} || m{k}.r || {us},
                     {us} || m{k}.l || m{k}.r || {us}) AS syms, n
                 FROM r{k - 1} CROSS JOIN m{k})"""
        )
    return "WITH " + "".join(parts)


def _bpe_fertility_oracle(rounds: int) -> str:
    """Per-doc fertility off the same unrolled training chain: the
    final round's symbol state gives pieces-per-word; joined back to
    the exploded (doc_id, word) relation; exact integer ppm."""
    return (
        _bpe_unrolled(rounds)
        + f"""
        , pieces AS (SELECT word,
                 len(list_filter(string_split(syms, chr(31)),
                                 s -> s <> ''))::BIGINT AS n_pieces_w
             FROM r{rounds}),
        docw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
        SELECT doc_id,
               count(*)::BIGINT AS n_words,
               sum(n_pieces_w)::BIGINT AS n_pieces,
               ((1000000 * sum(n_pieces_w)) // count(*))::BIGINT
                   AS fertility_ppm
        FROM docw JOIN pieces USING (word)
        GROUP BY doc_id"""
    )


def _bpe_merges_oracle(rounds: int) -> str:
    sel = " UNION ALL ".join(
        f'SELECT {k}::INT AS "rank", l AS "left", r AS "right" FROM m{k}'
        for k in range(1, rounds + 1)
    )
    return _bpe_unrolled(rounds) + f' SELECT * FROM ({sel}) ORDER BY "rank"'

ORACLES = {
    "q_bm25_search": f"""
        WITH qterms(q_id, term) AS (VALUES {_BM25_VALUES}),
        lengths AS (SELECT doc_id, len({_TOKS})::BIGINT AS dl FROM documents),
        totals AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
                   FROM lengths),
        tf0 AS (SELECT t.doc_id, t.term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents) t
                JOIN (SELECT DISTINCT term FROM qterms) q USING (term)
                GROUP BY 1, 2),
        tf AS (SELECT tf0.*, l.dl FROM tf0 JOIN lengths l USING (doc_id)),
        dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        -- expression order mirrors the Spark build exactly (Python
        -- folds 1.0-b and k1+1.0 into literals) so every IEEE double
        -- op happens in the same sequence on both engines
        contrib AS (SELECT q.q_id, tf.doc_id,
                           round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                                 * ((tf * {BM25_K1 + 1.0})
                                    / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl * n_docs / sum_dl)))
                                 * 1000000, 0)::BIGINT AS c_micro
                    FROM tf JOIN dfreq USING (term) CROSS JOIN totals
                    JOIN qterms q USING (term)),
        scored AS (SELECT q_id, doc_id, sum(c_micro)::BIGINT AS s_micro
                   FROM contrib GROUP BY 1, 2),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                                ORDER BY s_micro DESC, doc_id) AS rank
                   FROM scored)
        SELECT q_id, rank::INT AS rank, doc_id,
               round(s_micro / 1000000.0, 6) AS bm25
        FROM ranked WHERE rank <= {BM25_TOPK}
    """,
    "q_hash_embeddings": f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
        h AS (SELECT doc_id,
                     {_MD5INT.format(x="'he:' || token")} AS hh
              FROM t),
        x AS (SELECT doc_id, hh % {HE_DIM} AS dim,
                     1 - 2 * ((hh // {HE_DIM}) % 2) AS sign
              FROM h)
        SELECT doc_id,
               {_HE_SUM_COLS}
        FROM x GROUP BY doc_id
    """,
    "q_cms_heavy_hitters": f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
        cells AS (SELECT i,
                         {_MD5INT.format(x="'cms:' || i || ':' || token")}
                             % {CMS_W} AS cell
                  FROM toks CROSS JOIN range({CMS_D}) t(i)),
        sketch AS (SELECT i, cell, count(*)::BIGINT AS c
                   FROM cells GROUP BY 1, 2),
        exact AS (SELECT token, count(*)::BIGINT AS exact_count
                  FROM toks GROUP BY token),
        top AS (SELECT * FROM exact
                ORDER BY exact_count DESC, token LIMIT {HH_K}),
        probes AS (SELECT token, exact_count, i,
                          {_MD5INT.format(x="'cms:' || i || ':' || token")}
                              % {CMS_W} AS cell
                   FROM top CROSS JOIN range({CMS_D}) t(i))
        SELECT token, exact_count,
               min(c)::BIGINT AS cms_estimate,
               min(c)::BIGINT >= exact_count AS never_underestimates
        FROM probes JOIN sketch USING (i, cell)
        GROUP BY token, exact_count
    """,
    "q_lm_quality": """
        WITH t AS (SELECT doc_id, lower(text) AS s FROM documents
                   WHERE length(lower(text)) >= 2),
        b AS (SELECT doc_id, substr(s, CAST(i AS INT), 2) AS bg
              FROM t, LATERAL unnest(range(1, length(s))) AS r(i)),
        freq AS (SELECT bg, count(*) AS c FROM b GROUP BY bg),
        tot AS (SELECT sum(c) AS n FROM freq)
        SELECT doc_id,
               count(*) AS n_bigrams,
               -- int64 micro-bit quantization before the sum, mirroring
               -- the Spark side: order-independent, engine-independent
               round(CAST(sum(CAST(round(-log2(c * 1.0 / n) * 1000000, 0) AS BIGINT))
                          AS BIGINT) * 1.0 / count(*) / 1000000.0, 6) AS cross_entropy
        FROM b JOIN freq USING (bg) CROSS JOIN tot
        GROUP BY doc_id
    """,
    "q_doc_chunks": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1) + 1, {CHUNK_STRIDE}))
                         AS start
              FROM d)
        SELECT doc_id,
               ((start - 1) // {CHUNK_STRIDE})::INT AS chunk_idx,
               len(list_slice(toks, start, start + {CHUNK_SIZE} - 1))::INT
                   AS n_tokens,
               md5(array_to_string(
                   list_slice(toks, start, start + {CHUNK_SIZE} - 1), ' '))
                   AS chunk_hash
        FROM s
    """,
    "q_repetition_signals": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        bg AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i + 1])) AS bigram
               FROM d WHERE len(toks) >= 2),
        cnt AS (SELECT doc_id, bigram, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2)
        SELECT doc_id,
               sum(c)::BIGINT AS n_bigrams,
               round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac,
               round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
                   AS dup_bigram_frac
        FROM cnt GROUP BY doc_id
    """,
    "q_tfidf_top_terms": f"""
        WITH tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
                    FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
                    GROUP BY 1, 2),
        df AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        scored AS (SELECT tf.doc_id, tf.token,
                          tf.tf * ln(n.n_docs / df.df) AS tfidf
                   FROM tf JOIN df USING (token) CROSS JOIN n),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                                ORDER BY tfidf DESC, token) AS rank
                   FROM scored)
        SELECT doc_id, token, rank::INT AS rank, round(tfidf, 6) AS tfidf
        FROM ranked WHERE rank <= 3
    """,
    "q_lang_id": f"""
        WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
        scored AS (SELECT doc_id, lang,
               {_LANG_SCORE_COLS}
               FROM d),
        best AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM scored)
        SELECT doc_id,
               CASE WHEN best > 0 THEN {_LANG_PICK} ELSE 'und' END AS lang_pred,
               round(best, 6) AS lang_score,
               (CASE WHEN best > 0 THEN {_LANG_PICK} ELSE 'und' END) = lang AS agrees
        FROM best
    """,
    "q_lang_prior": f"""
        WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks,
                          CASE WHEN doc_id % 4 = 0 THEN lang
                               WHEN doc_id % 4 = 1 THEN 'FR-ca'
                               WHEN doc_id % 4 = 2 THEN 'xx' END AS declared
                   FROM documents),
        h AS (SELECT doc_id, declared, greatest(len(toks), 1) AS n,
               {_LANG_HIT_COLS}
               FROM d),
        b AS (SELECT *, greatest(h_de, h_en, h_es, h_fr, h_zh) AS besth,
                     lower(substr(declared, 1, 2)) AS prior
              FROM h),
        p AS (SELECT *, {_LANG_HPICK} AS bestlang,
                     {_LANG_PRIOR_H} AS prior_h,
                     prior IN ('de','en','es','fr','zh') AS known
              FROM b),
        c AS (SELECT *,
                     known AND bestlang <> prior
                       AND besth >= prior_h * {PRIOR_MARGIN_MULT}
                                    + {PRIOR_MARGIN_ADD} AS override,
                     CASE WHEN known
                          THEN CASE WHEN bestlang <> prior
                                     AND besth >= prior_h * {PRIOR_MARGIN_MULT}
                                                  + {PRIOR_MARGIN_ADD}
                                    THEN bestlang ELSE prior END
                          ELSE CASE WHEN besth > 0 THEN bestlang
                                    ELSE 'und' END END AS lang_pred
              FROM p)
        SELECT doc_id, declared, lang_pred,
               round(CASE WHEN coalesce(known, FALSE) AND NOT override
                          THEN prior_h
                          WHEN lang_pred = 'und' THEN 0
                          ELSE besth END * 1.0 / n, 6) AS lang_score,
               lang_pred = prior AS kept_prior
        FROM c
    """,
    "q_regex_token_stats": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS ws,
                          regexp_extract_all(text, '{BPE_ISH_PATTERN}') AS pieces
                   FROM documents)
        SELECT doc_id,
               len(ws)::INT AS n_words,
               len(pieces)::INT AS n_pieces,
               round(len(pieces) * 1.0 / greatest(len(ws), 1), 6) AS pieces_per_word
        FROM d
    """,
    "q_rolling_fingerprint": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(toks,
                           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {ROLL_MOD})),
                   (acc, x) -> (acc * {ROLL_BASE} + x) % {ROLL_MOD}) AS fingerprint
        FROM d WHERE len(toks) >= 1
    """,
    "q_token_counts": f"""
        SELECT token, count(*)::BIGINT AS n
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
    """,
    "q_token_totals": f"""
        SELECT count(*)::BIGINT AS total_tokens,
               count(DISTINCT token) AS distinct_tokens
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
    """,
    "q_token_source_assoc": f"""
        WITH em AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
        lf AS (SELECT token, source, count(*)::DOUBLE AS lf FROM em GROUP BY 1, 2),
        l AS (SELECT token, count(*)::DOUBLE AS l FROM em GROUP BY 1),
        f AS (SELECT source, count(*)::DOUBLE AS f FROM em GROUP BY 1),
        tot AS (SELECT count(*)::DOUBLE AS total FROM em)
        SELECT lf.token, lf.source,
               lf.lf AS assoc_freq,
               round(lf.lf / l.l, 6) AS assoc_prob,
               round((tot.total * lf.lf) / (l.l * f.f), 6) AS assoc_pmi,
               round(((lf.lf / tot.total) - (l.l / tot.total) * (f.f / tot.total))
                     / sqrt((l.l / tot.total) * (f.f / tot.total)), 6) AS assoc_ttest
        FROM lf JOIN l USING (token) JOIN f USING (source) CROSS JOIN tot
    """,
    "q_source_similarity": f"""
        WITH em AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
        cnt AS (SELECT source, token, count(*)::DOUBLE AS c FROM em GROUP BY 1, 2),
        probs AS (SELECT source, token, c / sum(c) OVER (PARTITION BY source) AS p FROM cnt),
        pairs AS (SELECT a.source AS s1, b.source AS s2
                  FROM (SELECT DISTINCT source FROM probs) a
                  JOIN (SELECT DISTINCT source FROM probs) b ON a.source < b.source),
        pairs_long AS (
            SELECT s1, s2, s1 AS source FROM pairs
            UNION ALL SELECT s1, s2, s2 AS source FROM pairs),
        aligned AS (
            SELECT pl.s1, pl.s2, t.token,
                   coalesce(max(CASE WHEN t.source = pl.s1 THEN t.p END), 0) AS x,
                   coalesce(max(CASE WHEN t.source = pl.s2 THEN t.p END), 0) AS y
            FROM pairs_long pl JOIN probs t USING (source)
            GROUP BY pl.s1, pl.s2, t.token)
        SELECT s1, s2,
               round(sum(abs(x - y)), 6) AS dist_manhattan,
               round(sqrt(sum((x - y) * (x - y))), 6) AS dist_euclidean,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim_cosine,
               round(sum(least(x, y)) / sum(greatest(x, y)), 6) AS sim_jaccard,
               round(2 * sum(least(x, y)) / sum(x + y), 6) AS sim_dice,
               round(sum(CASE WHEN x > 0 AND (x + y) / 2 > 0
                              THEN x * ln(x / ((x + y) / 2)) ELSE 0 END)
                   + sum(CASE WHEN y > 0 AND (x + y) / 2 > 0
                              THEN y * ln(y / ((x + y) / 2)) ELSE 0 END), 6) AS sim_js
        FROM aligned GROUP BY s1, s2
    """,
    "q_doc_quality": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               len(toks)::INT AS n_tokens,
               len(list_distinct(toks))::INT AS n_distinct,
               round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio,
               round(list_aggregate(list_transform(toks, t -> length(t)), 'sum') * 1.0
                     / len(toks), 6) AS avg_token_len,
               round(len(list_filter(toks, t -> list_contains(
                   ['the','a','of','in','to','and','is','on','for','with'], t))) * 1.0
                     / len(toks), 6) AS stopword_ratio
        FROM d
    """,
    "q_lang_stats": f"""
        SELECT lang, count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               round(avg(len({_TOKS})), 6) AS avg_tokens
        FROM documents GROUP BY lang
    """,
    "q_doc_fingerprint": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               list_aggregate(list_transform(
                   list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]),
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT), 'min') AS fingerprint
        FROM d WHERE len(toks) >= 3
    """,
    # Gopher rules in INTEGER arithmetic (cross-multiplied ratios) so
    # the flags hash identically — mirrors operators/text_analysis.
    # gopher_rules expression for expression
    "q_gopher_rules": f"""
        WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id,
                 len(toks) AS n,
                 coalesce(list_aggregate(
                     list_transform(toks, t -> length(t)), 'sum'), 0) AS sum_len,
                 len(list_filter(toks,
                     t -> contains(t, '#') OR contains(t, '...'))) AS n_sym,
                 len(list_filter(toks,
                     t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
                 len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     w -> list_contains(toks, w))) AS n_stops
              FROM d)
        SELECT doc_id,
               n::INT AS n_words,
               (n >= 50 AND n <= 100000)::INT AS ok_word_count,
               (sum_len >= 3 * n AND sum_len <= 10 * n)::INT AS ok_word_len,
               (n_sym * 10 < n)::INT AS ok_symbols,
               (n_alpha * 10 >= 8 * n)::INT AS ok_alpha,
               (n_stops >= 2)::INT AS ok_stopwords,
               (n >= 50 AND n <= 100000 AND sum_len >= 3 * n
                AND sum_len <= 10 * n AND n_sym * 10 < n
                AND n_alpha * 10 >= 8 * n AND n_stops >= 2)::INT AS keep
        FROM s
    """,
    # The identical jusText-shaped chain in RE2/DuckDB: same template,
    # same backreference-free regexes, same integer cross-multiplied
    # link-density rule — see operators/text_analysis.main_content.
    "q_main_content": _main_content_oracle(),
    "q_bpe_pair_counts": f"""
        WITH words AS (SELECT unnest({_TOKS}) AS word FROM documents),
        wc AS (SELECT word, count(*)::BIGINT AS n FROM words GROUP BY word),
        syms AS (SELECT list_append(
                     list_transform(range(1, length(word) + 1),
                                    i -> substr(word, i, 1)),
                     '</w>') AS ss, n
                 FROM wc),
        pairs AS (SELECT unnest(list_transform(range(1, len(ss)),
                      i -> ss[i] || '|' || ss[i + 1])) AS pair, n
                  FROM syms WHERE len(ss) >= 2)
        SELECT pair, sum(n)::BIGINT AS weight
        FROM pairs GROUP BY pair
        ORDER BY weight DESC, pair LIMIT 40
    """,
    "q_bpe_merges": _bpe_merges_oracle(BPE_MERGE_ROUNDS),
    "q_bpe_fertility": _bpe_fertility_oracle(BPE_MERGE_ROUNDS),
    "q_bpe_vocab_pieces": _bpe_vocab_pieces_oracle(BPE_MERGE_ROUNDS),
}
