"""Continuous-ingest runner — the operational CLI over the streaming
curation surface (streaming/documents.py), pairing run_curation.py's
one-shot batch funnel with the grows-forever deployment mode:

    python -m semantic_similarity_system_using_aws_mapreduce_spark.run_ingest ingest SRC_DIR OUTDIR
        [--compact-every N] [--bucket-table NAME] [--stats]
        [--min-tokens 24] [--min-ttr 0.35] [--min-agree 6]
    python -m semantic_similarity_system_using_aws_mapreduce_spark.run_ingest forget OUTDIR --doc-ids 1,2,3
        [--bucket-table NAME]
    python -m semantic_similarity_system_using_aws_mapreduce_spark.run_ingest versions OUTDIR
    python -m semantic_similarity_system_using_aws_mapreduce_spark.run_ingest asof OUTDIR --batch N --out PATH
    python -m semantic_similarity_system_using_aws_mapreduce_spark.run_ingest search OUTDIR --query "terms" [--topk 5]

``ingest`` drains every file currently in SRC_DIR (one micro-batch
per file, availableNow) through quality gate -> incremental dedup
against the persisted signature index, writing under OUTDIR:

    corpus/        admitted documents, one ``ingest_batch`` partition
                   per micro-batch (the version axis ``asof`` reads)
    sig_index/     minhash signature index future runs dedup against
    corpus_stats/  (with --stats) per-batch funnel counts
    corpus_ckpt/   the streaming checkpoint — KEEP it: re-running
                   ingests only files that arrived since

Re-running ``ingest`` as new files land is the whole deployment
story: the checkpoint skips processed files, replayed batches rewrite
their own partitions, and previously admitted content drops as a
duplicate — an at-least-once source, an exactly-once corpus.
``forget`` is the right-to-be-forgotten path (erases corpus + index
rows and any derived probe table, atomically).  ``versions`` / ``asof``
pin a training run to an ingest watermark for reproducibility.
"""

from __future__ import annotations

import argparse
import json
import os

from semantic_similarity_system_using_aws_mapreduce_spark.session import get_spark
from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
    corpus_versions,
    forget_documents,
    read_corpus_asof,
    run_streaming_curation,
)


def _paths(outdir: str) -> tuple[str, str]:
    return os.path.join(outdir, "corpus"), os.path.join(outdir, "sig_index")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="run_ingest")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_ing = sub.add_parser("ingest", help="drain SRC_DIR into the curated corpus")
    p_ing.add_argument("src_dir")
    p_ing.add_argument("outdir")
    p_ing.add_argument(
        "--format",
        default="parquet",
        choices=("parquet", "warc", "wet"),
        dest="source_format",
        help="SRC_DIR contents: documents-shaped parquet (default), "
        "raw crawl archives (.warc[.gz] — HTTP coding removal, "
        "charset decode, HTML extraction per micro-batch), or WET "
        "text extracts; crawl docs feed the mojibake-aware quality "
        "gate, incremental dedup, and RTBF unchanged",
    )
    p_ing.add_argument("--min-tokens", type=int, default=24)
    p_ing.add_argument("--min-ttr", type=float, default=0.35)
    p_ing.add_argument("--min-agree", type=int, default=6)
    p_ing.add_argument(
        "--dedup",
        choices=("keep-first", "keep-newest"),
        default="keep-first",
        help="duplicate survivor rule: keep-first (default) drops any "
        "re-delivered content; keep-newest gives re-crawls CRAWL "
        "semantics — an arrival whose content digest (or, r12, whose "
        "NEAR-DUP signature) matches a visible corpus copy with an "
        "older fetched_at supersedes the stale copy (hidden by as-of "
        "reads, not rewritten).  Requires globally unique doc_ids "
        "across batches: a re-crawl mints a new id and supersession "
        "links it to the old one (id reuse fails the batch loudly)",
    )
    p_ing.add_argument("--compact-every", type=int, default=0)
    p_ing.add_argument("--bucket-table", default=None)
    p_ing.add_argument("--stats", action="store_true")
    p_ing.add_argument(
        "--paragraphs",
        action="store_true",
        help="maintain incremental paragraph-level dedup: scrubbed "
        "docs in corpus_clean, kept-segment hashes in corpus_segindex",
    )
    p_ing.add_argument(
        "--postings",
        action="store_true",
        help="maintain the incremental BM25 retrieval tables "
        "(corpus_postings / corpus_doclens) alongside the corpus",
    )

    p_fgt = sub.add_parser("forget", help="right-to-be-forgotten deletion")
    p_fgt.add_argument("outdir")
    p_fgt.add_argument("--doc-ids", required=True, help="comma-separated ids")
    p_fgt.add_argument("--bucket-table", default=None)
    p_fgt.add_argument(
        "--no-expand-chains",
        action="store_true",
        help="erase exactly the named rows.  By default a keep-newest "
        "corpus expands the ids to their full supersession chains "
        "(same-digest members + supersedes edges, both directions) — "
        "forgetting a superseding copy alone would resurrect its "
        "predecessor's identical or near-identical content",
    )

    for p in (p_ing, p_fgt):
        p.add_argument(
            "--atomic-mode",
            choices=("rename", "manifest"),
            default=None,
            help="table-replacement protocol: rename (temp-and-swap; "
            "local FS/HDFS, the default) or manifest (versioned dirs "
            "behind an atomically-replaced pointer file — the rename-"
            "free protocol object stores need). Equivalent to setting "
            "SPARK_GRAFT_ATOMIC_MODE. Use the SAME mode across all "
            "runs against one OUTDIR.",
        )

    p_ver = sub.add_parser("versions", help="list committed ingest watermarks")
    p_ver.add_argument("outdir")

    p_srch = sub.add_parser(
        "search", help="BM25 query against the streamed postings index"
    )
    p_srch.add_argument("outdir")
    p_srch.add_argument("--query", required=True, action="append",
                        help="query string (repeatable; q_id = position)")
    p_srch.add_argument("--topk", type=int, default=5)
    p_srch.add_argument(
        "--snippets",
        action="store_true",
        help="surface each hit's page title (crawl ingests) and a "
        "text snippet alongside the score",
    )

    p_aso = sub.add_parser("asof", help="materialize the corpus as of a watermark")
    p_aso.add_argument("outdir")
    p_aso.add_argument("--batch", type=int, required=True)
    p_aso.add_argument("--out", required=True)

    p_vac = sub.add_parser(
        "vacuum",
        help="heal interrupted swaps and GC orphan bucket-table versions",
    )
    p_vac.add_argument("outdir")

    args = ap.parse_args(argv)
    if args.cmd == "ingest" and args.bucket_table and not args.compact_every:
        ap.error("--bucket-table requires --compact-every (its rebuild cadence)")
    if getattr(args, "atomic_mode", None):
        os.environ["SPARK_GRAFT_ATOMIC_MODE"] = args.atomic_mode
    corpus_path, index_path = _paths(args.outdir)

    if args.cmd == "versions":
        # pure filesystem metadata — no reason to boot a JVM
        print(json.dumps({"versions": corpus_versions(None, corpus_path)}))
        return 0

    if args.cmd == "ingest" and not (
        os.path.isdir(args.src_dir) and os.listdir(args.src_dir)
    ):
        # the crawler hasn't landed anything yet: a normal state on
        # the re-run-as-files-arrive deployment path, not a traceback
        print(json.dumps({"versions": corpus_versions(None, corpus_path),
                          "note": "no input files yet"}))
        return 0

    spark = get_spark(app_name="spark-semsim-ingest")

    if args.cmd == "ingest":
        run_streaming_curation(
            spark,
            args.src_dir,
            corpus_path,
            index_path,
            min_tokens=args.min_tokens,
            min_ttr=args.min_ttr,
            min_agree=args.min_agree,
            compact_every=args.compact_every,
            bucket_index_table=args.bucket_table,
            n_index_buckets=32,
            stats=args.stats,
            postings=args.postings,
            paragraphs=args.paragraphs,
            source_format=args.source_format,
            dedup=args.dedup,
        )
        print(json.dumps({"versions": corpus_versions(spark, corpus_path)}))
        return 0
    if args.cmd == "search":
        from semantic_similarity_system_using_aws_mapreduce_spark.streaming.retrieval import bm25_search_postings

        res = bm25_search_postings(
            spark,
            corpus_path,
            list(enumerate(args.query)),
            topk=args.topk,
            snippets=args.snippets,
        )
        if res is None:
            print(json.dumps({
                "error": "no postings index (ingest with --postings first)"
            }))
            return 1
        print(json.dumps({
            "results": [r.asDict() for r in res.collect()]
        }))
        return 0
    if args.cmd == "forget":
        ids = [int(x) for x in args.doc_ids.split(",") if x.strip()]
        if not ids:
            ap.error("--doc-ids parsed to an empty list; refusing a "
                     "no-op full rewrite of corpus and index")
        report = forget_documents(
            spark,
            corpus_path,
            index_path,
            ids,
            bucket_index_table=args.bucket_table,
            expand_chains=not args.no_expand_chains,
        )
        print(json.dumps(report))
        return 0
    if args.cmd == "vacuum":
        from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import vacuum_tables

        print(json.dumps(vacuum_tables(spark, corpus_path, index_path)))
        return 0
    if args.cmd == "asof":
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        snap = read_corpus_asof(spark, corpus_path, args.batch)
        if snap is None:
            print(json.dumps({"error": "no corpus ingested yet"}))
            return 1
        # the row count rides the write itself (Observation — the S5
        # counters pattern), not a second scan of the snapshot
        obs = Observation()
        snap.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"rows": obs.get["n"]}))
        return 0
    raise AssertionError(args.cmd)


if __name__ == "__main__":
    raise SystemExit(main())
