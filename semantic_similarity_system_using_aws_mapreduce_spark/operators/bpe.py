"""Distributed BPE tokenizer training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") — the
operator a training-data pipeline runs BEFORE token counting, sequence
packing, and token-budget sharding make sense: the tokenizer itself is
learned from the corpus.

Scale shape — the whole point of the design: the corpus is touched
EXACTLY ONCE (one combiner-friendly ``groupBy(word)`` producing the
weighted vocabulary, ~1e6-1e7 rows for a 100 TB crawl — model-sized,
like the k-means centroid or PQ codebook relations).  Every one of the
``n_merges`` rounds then runs entirely on that vocabulary relation:

  * pair counting: one explode + sum over vocab rows (kilobyte
    shuffles — pairs of adjacent symbols, weighted by word count);
  * argmax: a 1-row driver collect with a deterministic tie-break
    (count DESC, then lexicographic pair) — the documented legitimate
    model-sized control-flow base (the PQ search collects its k-row
    codebook the same way);
  * merge application: a JVM ``regexp_replace`` over the symbol
    string (``\\Q..\\E``-quoted, whitespace-anchored) — no Python
    touches the data, ever.

The naive alternative (re-scan the corpus per merge, as a literal
reading of the algorithm implies) costs n_merges full passes; this
form is how every production BPE trainer works and is why it belongs
in the engine rather than a driver script.

Reference analog: none — the reference pipeline consumes pre-tokenized
biarcs (Step1.java:30); tokenizer training is north-star surface for
the LLM-data mission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: end-of-word sentinel appended to every word's symbol sequence so
#: merges can learn word-final subwords (the classic ``</w>`` marker)
EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n): the weighted vocabulary — the ONE corpus-wide pass.
    Whitespace tokenization, matching the engine's token convention
    (workload/text._tokens_col)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _init_symbols(words: DataFrame) -> DataFrame:
    """(word, syms, n) with ``syms`` the space-joined character
    sequence plus the end-of-word marker: ``low`` -> ``l o w </w>``."""
    chars = F.expr("array_join(filter(split(word, ''), c -> c <> ''), ' ')")
    return words.select(
        "word", F.concat(chars, F.lit(" " + EOW)).alias("syms"), "n"
    )


def pair_counts(syms_df: DataFrame) -> DataFrame:
    """(left, right, weight): adjacent-symbol pair frequencies over the
    vocabulary relation, weighted by word count.  One explode + one
    sum — the per-round cost of the training loop."""
    pairs = F.expr(
        """
        transform(
            sequence(1, size(split(syms, ' ')) - 1),
            i -> struct(element_at(split(syms, ' '), i) AS left,
                        element_at(split(syms, ' '), i + 1) AS right)
        )
        """
    )
    return (
        syms_df.filter(F.size(F.split("syms", " ")) >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("n").alias("weight"))
    )


def _quote_regex(s: str) -> str:
    r"""Java-regex-quote a symbol (``\Q..\E``; embedded ``\E`` split)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def apply_merge(syms_df: DataFrame, left: str, right: str) -> DataFrame:
    """Merge one adjacent pair across the vocabulary: a single JVM
    ``regexp_replace`` anchored to symbol boundaries (start/space on
    both sides), replacing ``left right`` with ``leftright``."""
    pat = f"(?<=^| ){_quote_regex(left)} {_quote_regex(right)}(?=$| )"
    repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
    return syms_df.withColumn("syms", F.regexp_replace("syms", pat, repl))


#: vocabularies at or under this many distinct words run the merge
#: loop in-process (see bpe_train).  200k rows of (syms, n) is a few
#: tens of MB on the driver — model-sized, like the k-means centroid
#: collect — while a 32k-merge production run against the distributed
#: loop would cost 32k sequential Spark jobs (~hours of scheduling at
#: ~0.3 s/round).
LOCAL_VOCAB_THRESHOLD = 200_000


def _local_merge_loop(
    vocab: list[tuple[list[str], int]], n_merges: int, min_count: int
) -> list[tuple[str, str]]:
    """The merge loop over a collected vocabulary, bit-identical to the
    distributed rounds (same weights, same (count DESC, left ASC,
    right ASC) tie-break, same left-to-right non-overlapping merge
    application, same ``< min_count`` early stop — pinned by
    tests/test_bpe.py's cross-path identity test).

    Incremental bookkeeping, not per-round recounting: a pair->words
    inverted index confines each round's work to the words that
    actually contain the merged pair (the classic trainer shape), so
    32k merges over a 200k-word vocabulary stay tractable in-process.
    """
    from collections import Counter, defaultdict

    pair_w: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    words: list[list] = []
    for i, (ss, n) in enumerate(vocab):
        words.append([ss, n])
        for a, b in zip(ss, ss[1:]):
            pair_w[(a, b)] += n
            pair_words[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_w:
            break
        (left, right), w = min(
            pair_w.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if w < min_count:
            break
        merges.append((left, right))
        for i in list(pair_words.get((left, right), ())):
            ss, n = words[i]
            for a, b in zip(ss, ss[1:]):
                pair_w[(a, b)] -= n
                if pair_w[(a, b)] <= 0:
                    del pair_w[(a, b)]
                pair_words[(a, b)].discard(i)
            new: list[str] = []
            j = 0
            while j < len(ss):
                if j + 1 < len(ss) and ss[j] == left and ss[j + 1] == right:
                    new.append(left + right)
                    j += 2
                else:
                    new.append(ss[j])
                    j += 1
            words[i][0] = new
            for a, b in zip(new, new[1:]):
                pair_w[(a, b)] += n
                pair_words[(a, b)].add(i)
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
    stats: dict | None = None,
    mode: str = "auto",
    local_threshold: int = LOCAL_VOCAB_THRESHOLD,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus; returns the merge
    list in learned order (the tokenizer model).  Deterministic: ties
    on pair frequency break lexicographically on (left, right), so two
    engines (and the pure-Python differential in tests/test_bpe.py)
    learn the IDENTICAL merge sequence.  Stops early when no pair
    reaches ``min_count``.

    Adaptive execution (the connected_components/graph.py pattern):
    the corpus always collapses to the weighted vocabulary in ONE
    distributed pass; then, when that vocabulary fits
    ``local_threshold`` rows (measured by the same count that
    materializes the persist), the merge loop itself runs in-process —
    a production 32k-merge vocabulary otherwise means 32k sequential
    driver round-trips of pure job-scheduling latency on a
    model-sized relation.  Above threshold (or ``mode="distributed"``,
    which the q_bpe_merges oracle row uses so the distributed rounds
    stay driver-verified) each round is one explode+sum job + a 1-row
    collect + a JVM regexp_replace.  Both paths learn the identical
    merge sequence (cross-path identity pinned in tests/test_bpe.py).
    Pass ``stats`` to get back ``stats["mode"]`` and
    ``stats["n_merges"]``."""
    from pyspark import StorageLevel

    if mode not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown bpe_train mode: {mode!r}")
    syms = _init_symbols(word_counts(docs, text_col)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # one action materializes the persist AND measures the loop operand
    n_vocab = syms.count()
    merges: list[tuple[str, str]] = []

    if mode == "local" or (mode == "auto" and n_vocab <= local_threshold):
        vocab = [
            (r.syms.split(" "), r.n) for r in syms.select("syms", "n").collect()
        ]
        syms.unpersist()
        merges = _local_merge_loop(vocab, n_merges, min_count)
        if stats is not None:
            stats["mode"] = "local"
            stats["n_merges"] = len(merges)
        return merges

    for _ in range(n_merges):
        top = (
            pair_counts(syms)
            .orderBy(F.desc("weight"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["weight"] < min_count:
            break
        left, right = top[0]["left"], top[0]["right"]
        merges.append((left, right))
        new_syms = apply_merge(syms, left, right).localCheckpoint(eager=True)
        syms.unpersist()
        syms = new_syms
    if stats is not None:
        stats["mode"] = "distributed"
        stats["n_merges"] = len(merges)
    syms.unpersist()
    return merges


def corpus_fertility(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, n_pieces, fertility_ppm): corpus-scale
    tokenization statistics under a learned merge list — THE metric a
    tokenizer is judged by (pieces per word; Sennrich 2016 reports it
    as subwords/token).

    The scale shape this module promises, delivered: the corpus is
    never re-encoded per occurrence — the DISTINCT vocabulary is
    encoded once (:func:`bpe_encode_words`, model-sized) and BROADCAST
    back onto the exploded (doc_id, word) relation, so the join adds
    no shuffle on the corpus side and per-doc stats fall out of one
    partial-aggregated groupBy.  fertility_ppm is exact integer
    arithmetic (1e6 * pieces div words), engine-portable for the
    DuckDB oracle."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    enc = bpe_encode_words(word_counts(docs, text_col), merges).select(
        "word", F.size("pieces").cast("long").alias("__n_pieces_w")
    )
    docw = docs.select("doc_id", F.explode(toks).alias("word"))
    return (
        docw.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("__n_pieces_w").alias("n_pieces"),
        )
        .withColumn(
            "fertility_ppm", F.expr("(1000000 * n_pieces) div n_words")
        )
    )


def bpe_encode_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, pieces): segment each distinct word with a learned merge
    list — replaying the merges in rank order over the vocabulary
    relation (encode once per DISTINCT word; a corpus tokenization
    joins this kilobyte-scale table back, it never re-encodes per
    occurrence)."""
    syms = _init_symbols(
        words.select("word").distinct().withColumn("n", F.lit(1))
    )
    for left, right in merges:
        syms = apply_merge(syms, left, right)
    return syms.select("word", F.split("syms", " ").alias("pieces"))
