"""Text-analysis operators (library API): language identification,
regex tokenization, quality scoring, fingerprinting.

All pure JVM expressions (no UDFs): language ID is a stopword-profile
argmax, the "BPE-ish" tokenizer is a regex piece-splitter
(word-fragments of <=4 chars + punctuation pieces, a deterministic
stand-in for a learned merge table with the same plan shape), and the
rolling fingerprint is a polynomial fold over token hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import md5_int, tokens

# Tiny per-language stopword profiles (top function words).
LANG_PROFILES = {
    "en": ["the", "a", "of", "in", "to", "and", "is", "on", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "auf"],
    "fr": ["le", "la", "de", "et", "un", "est", "dans", "pour", "que", "sur"],
    "es": ["el", "la", "de", "y", "un", "es", "en", "por", "que", "con"],
    "zh": ["de5", "shi4", "zai4", "he2", "le5", "you3", "wo3", "ta1", "zhe4", "bu4"],
}

# Word fragments up to 4 chars, else single non-space symbol — a
# BPE-piece-shaped segmentation.
BPE_ISH_PATTERN = r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"

ROLL_BASE = 31
# Odd 42-bit modulus: acc*31 stays < 2^47, so the fold never overflows
# int64 — the same portability constraint as the dedup hash family.
ROLL_MOD = (1 << 42) - 3


def lang_hits(toks: Column) -> dict[str, Column]:
    """Per-language integer stopword hit COUNT over a token-array
    column — the comparison-safe form (shared denominator, so argmax
    over counts == argmax over ratios, and integer margins can't
    disagree across engines).  Pass a MATERIALIZED column (not an
    inline split expression): the counts reference it per language,
    and interpreted HOFs would re-tokenize per use."""

    def hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        # single-arg lambda only: a second parameter (even a default)
        # receives the array index in PySpark HOFs
        return F.filter(toks, lambda t: F.array_contains(arr, t))

    return {
        lang: F.size(hits(words)) for lang, words in LANG_PROFILES.items()
    }


#: declared-language override margin: the statistical heuristic beats
#: a declared <html lang=...> prior only when its best profile has at
#: least PRIOR_MARGIN_MULT x the prior language's hits plus
#: PRIOR_MARGIN_ADD more — integer, so the boundary can't flip
#: cross-engine.  One stray stopword never overrides a declaration;
#: a page whose text is unambiguously another language does.
PRIOR_MARGIN_MULT = 2
PRIOR_MARGIN_ADD = 2


def identify_language(
    df: DataFrame, text_col: str = "text", prior_col: str | None = None
) -> DataFrame:
    """Append (lang_pred, lang_score): argmax over the language
    profiles (ties broken toward the lexicographically greatest code —
    the natural (score, lang) struct-max), 'und' when no profile
    matches at all.

    ``prior_col`` names a declared-language column (the crawl path's
    ``html_lang`` from the ``<html lang=...>`` attribute — the
    standard prior beside statistical lang-ID): normalized to its
    2-letter code, a declared PROFILED language wins unless the
    heuristic strongly disagrees (best-profile hits >=
    ``PRIOR_MARGIN_MULT * prior_hits + PRIOR_MARGIN_ADD`` — integer
    margins, deterministic for the oracle).  Short ambiguous documents
    — too few stopwords for the statistics to mean anything — keep
    their declaration; an en-declared page full of German function
    words is overridden.  Null/unprofiled declarations fall back to
    the pure heuristic; ``lang_score`` is always the CHOSEN language's
    hit ratio."""
    # Projection discipline (the warc.py decode-split pattern): the
    # per-language hit counts are interpreted higher-order-function
    # filters (CodegenFallback), and the prediction logic below
    # references each count many times — inlined, the optimized plan
    # evaluated every profile filter ~17x per row and the whole
    # projection fell out of codegen.  Materializing the counts (and
    # the argmax struct) as their own multi-use non-cheap aliases
    # keeps each filter evaluated ONCE per row: CollapseProject does
    # not inline a non-cheap alias with multiple consumers.
    base = df.withColumn("__toks", tokens(F.col(text_col)))
    hitsd = lang_hits(F.col("__toks"))
    langs = sorted(hitsd)
    staged = base.select(
        "*",
        *[hitsd[lang].alias(f"__h_{lang}") for lang in langs],
        F.greatest(F.size("__toks"), F.lit(1)).alias("__n"),
    ).withColumn(
        "__best",  # struct compare: hits first, then lang (tie-break)
        F.array_max(
            F.array(
                *[
                    F.struct(
                        F.col(f"__h_{lang}").alias("h"),
                        F.lit(lang).alias("lang"),
                    )
                    for lang in langs
                ]
            )
        ),
    )
    helper = ["__toks", "__n", "__best"] + [f"__h_{lang}" for lang in langs]
    best = F.col("__best")
    denom = F.col("__n")
    heur_pred = F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))
    if prior_col is None:
        return (
            staged.withColumn("lang_pred", heur_pred)
            .withColumn("lang_score", F.round(best["h"] / denom, 6))
            .drop(*helper)
        )
    prior = F.lower(F.substring(F.col(prior_col), 1, 2))
    prior_h: Column = F.lit(0)
    for lang in langs:
        prior_h = F.when(prior == lang, F.col(f"__h_{lang}")).otherwise(prior_h)
    staged = staged.withColumn("__prior", prior).withColumn("__ph", prior_h)
    helper += ["__prior", "__ph"]
    prior_known = F.col("__prior").isin(langs)
    override = (best["lang"] != F.col("__prior")) & (
        best["h"] >= F.col("__ph") * PRIOR_MARGIN_MULT + PRIOR_MARGIN_ADD
    )
    pred = F.when(
        prior_known, F.when(override, best["lang"]).otherwise(F.col("__prior"))
    ).otherwise(heur_pred)
    chosen_h = F.when(
        prior_known & ~override, F.col("__ph")
    ).otherwise(F.when(pred == F.lit("und"), F.lit(0)).otherwise(best["h"]))
    return (
        staged.withColumn("lang_pred", pred)
        .withColumn("lang_score", F.round(chosen_h / denom, 6))
        .drop(*helper)
    )


def bpe_ish_tokens(text: Column) -> Column:
    """Regex piece segmentation (BPE-shaped: bounded-length word
    fragments + punctuation singletons)."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace vs BPE-ish piece counts per document."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("n_words"),
        F.size(bpe_ish_tokens(F.col(text_col))).alias("n_pieces"),
    ).select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.round(F.col("n_pieces") / F.greatest("n_words", F.lit(1)), 6).alias(
            "pieces_per_word"
        ),
    )


def rolling_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-sensitive polynomial rolling hash over token hashes:
    h = (h * 31 + md5_int(tok)) mod (2^61-1), folded left-to-right.
    Unlike the min-shingle fingerprint, reordering tokens changes it."""
    toks = tokens(F.col(text_col))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_BASE + md5_int(t) % ROLL_MOD) % ROLL_MOD,
    )
    return df.filter(F.size(toks) >= 1).select(
        F.col(id_col).alias("doc_id"), fp.alias("fingerprint")
    )


# --- PII redaction -----------------------------------------------------
# Ordered (kind, pattern, replacement): email first (its local part can
# contain digits a later pattern would otherwise claim), then IPv4 (its
# dotted digit groups must not feed the phone pattern's digit run), then
# phone.  Patterns are deliberately RE2-compatible (no lookaround, no
# backrefs) so the same strings run unchanged on Spark's Java regex and
# DuckDB's RE2 — counts and replacements agree bit-for-bit.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts on the RAW text (before redaction), so the
    counts are independent of replacement order."""
    return {
        f"n_{kind}": F.regexp_count(text, F.lit(pat))
        for kind, pat, _ in PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its placeholder token.  A chain of
    JVM regexp_replace calls — map-side, codegen'd, no shuffle; at
    100 TB this is a pure scan-transform with no exchange."""
    out = text
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


# --- Document chunking -------------------------------------------------
def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document's token stream into overlapping fixed-size
    windows (the context-window packing step of a training pipeline):
    chunk i covers tokens [1 + i*stride, 1 + i*stride + chunk_size).
    The final chunk may be short; every token lands in >=1 chunk.

    Scale design: a pure map-side fan-out — sequence + posexplode +
    slice, no shuffle, no UDF.  The token array is materialized once
    per row before the explode so the (interpreted) slice lambda does
    not re-tokenize per chunk.

    Returns (doc_id, chunk_idx, n_tokens, chunk_hash) where chunk_hash
    is md5 of the space-joined chunk text — the identity a chunk-level
    dedup or shard-packing stage keys on downstream.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("__toks"), F.lit(1)), F.lit(stride)
    )
    chunk = F.slice(F.col("__toks"), F.col("start"), chunk_size)
    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            chunk.alias("__chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("__chunk").alias("n_tokens"),
            F.md5(F.array_join("__chunk", " ")).alias("chunk_hash"),
        )
    )


def html_to_text(col: Column) -> Column:
    """Crude-but-deterministic HTML -> text extraction, entirely
    JVM-side (a regexp_replace chain inside codegen — no Python, no
    external parser): drop script/style/comment blocks, strip tags,
    decode the common named entities plus decimal numerics are left
    as-is (rare in body text; a full entity table belongs to a real
    extractor), collapse whitespace.  This is the "good enough to
    feed the quality gate" tier — the gate and lang-ID downstream are
    what actually reject the residue of malformed markup, mirroring
    how crawl pipelines layer cheap extraction under statistical
    filters."""
    c = F.regexp_replace(col, r"(?is)<(script|style)[^>]*>.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
    ):
        c = F.regexp_replace(c, ent, rep)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


#: tags that terminate a text block (jusText's "block-level" set):
#: splitting HTML on their open/close forms yields the candidate
#: blocks the density scorer classifies.
_BLOCK_SPLIT_RE = (
    r"(?i)</?(?:p|div|li|ul|ol|h[1-6]|td|tr|th|table|thead|tbody|nav|"
    r"footer|header|aside|article|section|main|blockquote|pre|form|"
    r"fieldset|br)[^>]*>"
)

#: default block-classification thresholds (jusText-shaped: a block is
#: main content iff it has enough text AND low enough link density)
MAIN_CONTENT_MIN_CHARS = 25
MAIN_CONTENT_MAX_LINK_PCT = 33

#: default mojibake-density reject threshold (U+FFFD replacements per
#: 1000 chars, counted by the WARC charset decode into ``n_repl``) —
#: shared by the batch funnel (run_curation.curate) and the streaming
#: quality gate so both reject the identical rows
MOJIBAKE_MAX_PERMILLE = 20

_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
)


def _block_text(b: Column) -> Column:
    """Tag-strip + entity-decode + whitespace-collapse one raw block
    (the html_to_text tail, backreference-free so the DuckDB/RE2
    oracle can run the identical chain)."""
    t = F.regexp_replace(b, r"(?s)<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.regexp_replace(t, ent, rep)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def html_title(col: Column) -> Column:
    """The page ``<title>`` as a clean text column (tag-scoped
    extract + the shared entity/whitespace chain); empty/absent
    titles come back null.  Crawl pipelines key retrieval snippets
    and cheap URL-less dedup blocks on it."""
    t = _block_text(F.regexp_extract(col, r"(?is)<title[^>]*>([^<]*)", 1))
    return F.nullif(t, F.lit(""))


def html_lang(col: Column) -> Column:
    """The ``<html lang=...>`` declaration, lowercased (null when
    absent) — the standard prior a crawl pipeline feeds its language
    identifier alongside the statistical lang-ID signal."""
    raw = F.regexp_extract(
        col,
        r"""(?is)<html[^>]*?\slang\s*=\s*["']?\s*([A-Za-z][A-Za-z0-9-]*)""",
        1,
    )
    return F.nullif(F.lower(raw), F.lit(""))


def main_content(
    df: DataFrame,
    html_col: str = "html",
    min_chars: int = MAIN_CONTENT_MIN_CHARS,
    max_link_pct: int = MAIN_CONTENT_MAX_LINK_PCT,
) -> DataFrame:
    """Block-level main-content extraction (the jusText / text-density
    heuristic shape: Pomikalek 2011, also Kohlschuetter 2010
    boilerpipe): split the page into blocks at block-level tag
    boundaries, score each block by text length and link density, and
    keep only "good" blocks — so per-page template furniture
    (nav/footer/sidebar: short, link-dense) is stripped even when the
    template appears once in the corpus and corpus-level paragraph
    dedup can't see it.

    Entirely JVM-side column expressions — split / transform / filter
    / aggregate over the per-row block array; no Python stage, no
    shuffle, scale-safe at any corpus size.  A block is main content
    iff ``n_chars >= min_chars`` AND ``anchor_chars * 100 <=
    max_link_pct * n_chars`` (integer cross-multiplication, the
    gopher_rules trick — no FP ratio whose rounding an oracle could
    disagree with).

    Adds ``main_text`` (good blocks joined), ``n_blocks`` (non-empty
    blocks), ``n_good_blocks``, ``total_chars`` / ``good_chars``
    (block-text chars), and ``boilerplate_ppm`` (rejected-chars
    density in parts-per-million, exact integer div) — the columns the
    quality gate consumes.  The block-stats array is materialized in
    its own projection so the split+score chain runs once per row
    (multi-use non-cheap aliases are not collapsed by Catalyst).

    The reference never needs this: its corpus is pre-cleaned text
    (Step1.java:30).  It belongs to the crawl-ingestion path this
    engine adds (sources/warc.py)."""
    pre = F.regexp_replace(
        F.col(html_col), r"(?is)<script[^>]*>.*?</script\s*>", " "
    )
    pre = F.regexp_replace(pre, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    pre = F.regexp_replace(pre, r"(?s)<!--.*?-->", " ")

    def _stat(b: Column) -> Column:
        anchors = F.regexp_extract_all(b, F.lit(r"(?is)<a[^>]*>([^<]*)"), 1)
        a_chars = F.aggregate(
            F.transform(
                anchors,
                lambda a: F.length(F.trim(F.regexp_replace(a, r"\s+", " "))),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        text = _block_text(b)
        return F.struct(
            text.alias("txt"),
            F.length(text).alias("n_chars"),
            a_chars.alias("a_chars"),
        )

    staged = df.withColumn(
        "__mc_stats", F.transform(F.split(pre, _BLOCK_SPLIT_RE), _stat)
    )
    good = F.filter(
        "__mc_stats",
        lambda s: (s.n_chars >= min_chars)
        & (s.a_chars * 100 <= max_link_pct * s.n_chars),
    )
    with_sums = staged.select(
        *df.columns,
        F.array_join(F.transform(good, lambda s: s.txt), " ").alias("main_text"),
        F.size(F.filter("__mc_stats", lambda s: s.n_chars > 0))
        .cast("long")
        .alias("n_blocks"),
        F.size(good).cast("long").alias("n_good_blocks"),
        F.aggregate(
            "__mc_stats", F.lit(0), lambda acc, s: acc + s.n_chars
        )
        .cast("long")
        .alias("total_chars"),
        F.aggregate(good, F.lit(0), lambda acc, s: acc + s.n_chars)
        .cast("long")
        .alias("good_chars"),
    )
    return with_sums.withColumn(
        "boilerplate_ppm",
        F.expr(
            "case when total_chars > 0 then"
            " (1000000 * (total_chars - good_chars)) div total_chars"
            " else 0 end"
        ),
    )


def cms_sketch(
    toks: DataFrame, d: int = 3, w: int = 512, token_col: str = "token"
) -> DataFrame:
    """Count-min sketch of a token-occurrence relation as an
    (i, cell, c) relation — d hash rows x w cells, cell positions from
    the portable md5 hash (md5('cms:i:' || token) % w), built by one
    map-side explode + one partial-aggregated groupBy whose state is
    bounded by d*w regardless of vocabulary (CM sketch, Cormode &
    Muthukrishnan 2005).

    Mergeability is the point: sketches over disjoint corpus shards —
    or successive streaming micro-batches — combine by cell-wise
    addition into exactly the sketch of the union, which is what lets
    a 100 TB (or continuously growing) corpus keep one bounded-size
    frequency structure.  Query an estimate with
    :func:`cms_estimate`; it never underestimates."""
    cell = lambda i: (  # noqa: E731
        md5_int(F.concat(F.lit(f"cms:{i}:"), F.col(token_col))) % w
    )
    return (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("i"), cell(i).alias("cell"))
                        for i in range(d)
                    ]
                )
            ).alias("s")
        )
        .select("s.i", "s.cell")
        .groupBy("i", "cell")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    items: DataFrame, sketch: DataFrame, d: int = 3, w: int = 512,
    token_col: str = "token",
) -> DataFrame:
    """Estimated corpus frequency for each row of ``items`` from a
    :func:`cms_sketch` relation: min over the d probed cells.  The
    sketch is d*w rows — broadcast; the probe adds one small
    aggregation keyed by the item."""
    cell = lambda i: (  # noqa: E731
        md5_int(F.concat(F.lit(f"cms:{i}:"), F.col(token_col))) % w
    )
    probes = items.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), cell(i).alias("cell"))
                    for i in range(d)
                ]
            )
        ).alias("s"),
    ).select(token_col, "s.i", "s.cell")
    return (
        probes.join(F.broadcast(sketch), ["i", "cell"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_estimate"))
    )


#: Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
#: ... Gopher", appendix A1.1) — the de-facto baseline rule set every
#: web-scale curation pipeline starts from.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000


def _gopher_flag_cols(toks_ref: str) -> list:
    """The five Gopher rule flags as boolean Columns over a
    MATERIALIZED token-array column (materialized so the split runs
    once per row, not once per rule — the q_doc_quality lesson).
    Shared by :func:`gopher_rules` and the curation funnel's
    ``--gopher`` stage so both enforce byte-identical rules."""
    n = F.size(toks_ref)
    sum_len = F.aggregate(toks_ref, F.lit(0), lambda acc, t: acc + F.length(t))
    n_sym = F.size(
        F.filter(toks_ref, lambda t: t.contains("#") | t.contains("..."))
    )
    n_alpha = F.size(F.filter(toks_ref, lambda t: t.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stops = F.size(F.filter(stop_arr, lambda s: F.array_contains(toks_ref, s)))
    return [
        ((n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)).alias("ok_word_count"),
        ((sum_len >= 3 * n) & (sum_len <= 10 * n)).alias("ok_word_len"),
        (n_sym * 10 < n).alias("ok_symbols"),
        (n_alpha * 10 >= 8 * n).alias("ok_alpha"),
        (n_stops >= 2).alias("ok_stopwords"),
    ]


def gopher_keep_col(toks_ref: str) -> Column:
    """Conjunction of every Gopher rule — ONE map-side boolean over a
    materialized token-array column."""
    cols = _gopher_flag_cols(toks_ref)
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality-rule flags per document — the rule-based
    quality gate (vs. the statistic signals in q_doc_quality): word-count bounds, mean word
    length in [3, 10], symbol-to-word ratio < 0.1 (`#`/ellipsis),
    >= 80% of words containing an alphabetic character, and >= 2
    distinct stop words present (the "natural English sentence"
    heuristic).

    Every rule is evaluated in INTEGER arithmetic (ratios compared by
    cross-multiplication), so the flags hash identically across
    engines — and the whole relation is one map-side expression chain
    over the token array: zero shuffles, zero UDFs, scans 100 TB at
    IO speed.  Reference analog: the reference pipeline has no quality
    gate at all (its corpus is pre-cleaned biarcs, Step1.java:30);
    this is north-star surface for the crawl-curation funnel."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    out = docs.select(
        "doc_id", toks.alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("int").alias("n_words"),
        *[f.cast("int") for f in _gopher_flag_cols("toks")],
    )
    keep = (
        (F.col("ok_word_count") == 1)
        & (F.col("ok_word_len") == 1)
        & (F.col("ok_symbols") == 1)
        & (F.col("ok_alpha") == 1)
        & (F.col("ok_stopwords") == 1)
    )
    return out.withColumn("keep", keep.cast("int"))
