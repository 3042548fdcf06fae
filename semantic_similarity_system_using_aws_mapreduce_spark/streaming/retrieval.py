"""Incremental lexical retrieval over the continuously-ingested
corpus: the streaming loop (documents.run_streaming_curation with
``postings=True``) maintains a term-postings table and a doc-length
table alongside the corpus, and :func:`bm25_search_postings` answers
Okapi BM25 queries from those tables WITHOUT re-tokenizing the corpus.

Net-new engine surface (the reference is batch-only, SURVEY §2.9);
the scoring arithmetic is workload/text.q_bm25_search's exactly — the
same constants, the same int64 micro-unit quantization, the same
rank tie-break — so the equivalence test can demand bit equality
between "search the streamed index" and "score the final corpus from
scratch".

Tables (both under the corpus path prefix, both written through the
same idempotent per-batch dynamic-partition-overwrite as the corpus
itself, so at-least-once replay rewrites rather than double-counts):

    <corpus>_postings   (doc_id, term, tf, ingest_batch)
    <corpus>_doclens    (doc_id, dl, ingest_batch)

Scale shape: the postings DELTA is per-batch (tokenize the batch's
admitted docs once); a query reads the doc-length table (2 longs per
doc) for N/Σdl and ONLY the query terms' postings (filter against a
broadcast term set pushes into the parquet scan) — at 100 TB the
query never touches the corpus text, and the only aggregations are
over query-term postings.  df is computed from the filtered postings,
never from a corpus scan.  Right-to-be-forgotten: forget_documents
rewrites both tables with the same anti-join + atomic swap as the
corpus (tested)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import tokens
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation
from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import read_parquet_recovering

POSTINGS_SUFFIX = "_postings"
DOCLENS_SUFFIX = "_doclens"


def postings_delta(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a batch of documents: one tokenize pass
    feeds both (the token array is materialized in its own projection
    first — the shingle_hashes discipline)."""
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).select("doc_id", "_toks", F.size("_toks").alias("dl"))
    postings = (
        toked.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return postings, toked.select("doc_id", "dl")


def bm25_search_postings(
    spark: SparkSession,
    corpus_path: str,
    queries: list[tuple[int, str]],
    topk: int = 5,
    k1: float | None = None,
    b: float | None = None,
    snippets: bool = False,
    snippet_chars: int = 160,
) -> DataFrame | None:
    """Rank the ingested corpus for each (q_id, query_text) — Okapi
    BM25 from the streamed postings/doclens tables, arithmetic
    bit-identical to workload/text.q_bm25_search (same constants by
    default, same op order, int64 micro-quantized contributions,
    doc_id rank tie-break).  Returns (q_id, rank, doc_id, bm25) or
    None if nothing has been ingested.

    ``snippets=True`` additionally surfaces each hit's page ``title``
    (the crawl path's ``<title>`` prior — null for corpora ingested
    without one) and the text's first ``snippet_chars`` characters.
    The corpus is touched ONLY for the ranked ids: a broadcast
    semi-filter of the ~``topk * n_queries`` winner set reaches the
    corpus scan before any wide column is read, so at 100 TB the
    snippet join reads a handful of rows, never re-scans the text.

    Keep-newest corpora rank only the visible view: superseded copies
    are excluded from scoring and from the collection statistics (see
    the in-line note), so a re-crawled page surfaces once, under its
    freshest id."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload.text import BM25_B, BM25_K1

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    postings = read_parquet_recovering(spark, corpus_path + POSTINGS_SUFFIX)
    doclens = read_parquet_recovering(spark, corpus_path + DOCLENS_SUFFIX)
    if postings is None or doclens is None:
        return None
    # keep-newest corpora: superseded copies keep their postings
    # rows (the tables are append-only like the corpus), but search
    # must rank only the VISIBLE corpus — otherwise a re-crawled page
    # returns twice (stale id + fresh id) and duplicated content
    # double-counts in df / n_docs / sum_dl.  Excluding the marker set
    # from doclens removes them from the tf join, the df window, and
    # the collection stats in one anti-join.  Marker source: the narrow
    # ``<corpus>_digests`` table — the supersession system of record —
    # not a corpus scan, so keep-first corpora (no digests table) skip
    # even the read, and keep-newest corpora never pay a scan that
    # grows with corpus width just to collect markers.
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import DIGESTS_SUFFIX

    markers = None
    dig = read_parquet_recovering(spark, corpus_path + DIGESTS_SUFFIX)
    if dig is not None:
        markers = dig.filter(F.col("supersedes").isNotNull()).select(
            F.col("supersedes").alias("doc_id")
        )
    if markers is not None:
        doclens = doclens.join(markers, "doc_id", "left_anti")
    terms = [(q, t) for q, s in queries for t in dict.fromkeys(s.split())]
    qterms = local_relation(spark, terms, "q_id long, term string")
    totals = doclens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # only the query terms' postings ever leave the scan; df as a
    # window count over the tiny filtered relation (the q_bm25_search
    # single-consumption shape — no persist, no second aggregation)
    tf = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term")
        .select("doc_id", "term", "tf")
        .join(doclens.select("doc_id", "dl"), "doc_id")
        .withColumn("df", F.count("*").over(Window.partitionBy("term")))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
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
    w = Window.partitionBy("q_id").orderBy(F.col("s_micro").desc(), F.col("doc_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "q_id",
            "rank",
            "doc_id",
            F.round(F.col("s_micro") / 1_000_000.0, 6).alias("bm25"),
        )
    )
    if not snippets:
        return ranked
    # ranked is consumed twice below (the winner-set broadcast AND the
    # final join), and it is at most topk rows per query: one collect
    # runs the BM25 scoring plan once, and the rows re-enter as a local
    # relation.  No cache outlives the call — a persisted ranking would
    # be hit by a later search with the same queries (equal local
    # relations over the same table paths are the same plan), even
    # after an RTBF rewrite of those tables
    ranked = local_relation(spark, ranked.collect(), ranked.schema)
    corpus = read_parquet_recovering(spark, corpus_path)
    if corpus is None:
        return ranked.select(
            "*",
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("snippet"),
        )
    title = (
        F.col("title")
        if "title" in corpus.columns
        else F.lit(None).cast("string")
    )
    # winners first (broadcast semi-filter, map-side on the corpus
    # scan), THEN the wide text column is substring'd — only the
    # ranked rows' text ever leaves the scan
    meta = corpus.join(
        F.broadcast(ranked.select("doc_id").distinct()), "doc_id"
    ).select(
        "doc_id",
        title.alias("title"),
        F.substring("text", 1, snippet_chars).alias("snippet"),
    )
    return ranked.join(meta, "doc_id", "left").select(
        "q_id", "rank", "doc_id", "bm25", "title", "snippet"
    )


def compact_retrieval(
    spark: SparkSession,
    corpus_path: str,
    keep_batch: int,
) -> None:
    """Fold the retrieval tables' accumulated per-batch partitions
    into the bounded base partition, like the signature index's
    :func:`~semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents.compact_index` — without it the
    postings table accrues one parquet file per micro-batch and every
    query pays a footer per batch ever ingested.  Same replay
    contract: ``keep_batch`` (the one batch a checkpoint crash can
    re-deliver) keeps its own partition so a replay overwrites it
    in place; older batches are checkpoint-committed and never
    replayed, and the fold's key-dedup absorbs residue even if that
    assumption is ever violated.  Postings dedupe on (doc_id, term) —
    a doc's tf for a term is single-valued, so keeping one row is the
    correct merge, unlike a sketch that would need cell-wise sums."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import compact_index

    compact_index(
        spark,
        corpus_path + POSTINGS_SUFFIX,
        keep_batch=keep_batch,
        dedup_keys=("doc_id", "term"),
    )
    compact_index(
        spark,
        corpus_path + DOCLENS_SUFFIX,
        keep_batch=keep_batch,
        dedup_keys=("doc_id",),
    )
