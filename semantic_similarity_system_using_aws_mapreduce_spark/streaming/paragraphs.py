"""Incremental paragraph-level dedup for the streaming ingest loop:
the CCNet keep-first recipe (operators/dedup.paragraph_dedup) against
a PERSISTED segment-hash index, so a continuously-growing corpus cuts
quoted/boilerplate passages the moment they recur — across batches,
not just within one.

Tables (same idempotent per-batch partition discipline as the corpus):

    <corpus>_segindex  (seg_hash, doc_id, ingest_batch)
        one row per segment hash the corpus has KEPT, attributed to
        the document that kept it — attribution is what lets
        right-to-be-forgotten erase content-derived hashes (the
        forget rewrite anti-joins doc_id like every other table) and
        what lets a crash-replayed batch exclude its own rows.
    <corpus>_clean     (doc_id, n_segments, n_kept, n_dup, kept_text,
                        ingest_batch)
        the scrubbed face of each admitted document; the raw corpus
        table is untouched, so curation stays non-destructive and
        time-travel over the raw axis stays truthful.

Semantics vs the batch operator: keep-FIRST in ARRIVAL order (batch,
then (doc_id, seg_idx) within a batch) — identical to
paragraph_dedup's global (doc_id, seg_idx) order whenever doc ids
increase with arrival (tested).  The boilerplate verdict
(drop-even-the-first at >= K docs) is deliberately NOT applied
online: it would require retroactively rewriting documents admitted
before a segment became frequent.  Run the batch operator over the
clean table at compaction/release time for that pass.

Scale shape: segmentation is map-side; the batch's segments join the
index on seg_hash — ONE keyed shuffle.  At 100 TB the index side is a
bucketed-by-seg_hash catalog table (:func:`build_bucketed_seg_index`,
the same versioned manifest-pointer protocol as the signature index's
probe table): the probe then reads co-located buckets with NO Exchange
on the index side, and only the micro-batch's segments shuffle to meet
the bucketing.  Between compaction rebuilds the loop probes the table
PLUS the parquet tail as two seen-relations (:func:`paragraph_delta`
accepts a list).  The index fold at compaction bounds file count like
the signature index's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import segment_hashes
from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import read_parquet_recovering
from semantic_similarity_system_using_aws_mapreduce_spark.sources.bucketing import (
    BUCKETMETA_SUFFIX,
    rebuild_bucket_table,
)

SEGINDEX_SUFFIX = "_segindex"
CLEAN_SUFFIX = "_clean"
SEG_TABLE_SUFFIX = "_seg"
#: the segment bucket table's columns and bucket key, for its
#: re-registration in a fresh session
SEG_BUCKET_DDL = "seg_hash BIGINT, doc_id BIGINT"
SEG_BUCKET_KEYS = ["seg_hash"]


def build_bucketed_seg_index(
    spark: SparkSession,
    segindex_path: str,
    table: str,
    n_buckets: int = 32,
    covered_batch: int | None = None,
) -> DataFrame | None:
    """Materialize the segment index as a catalog table bucketed by
    ``seg_hash`` — the exchange-free probe shape for incremental
    paragraph dedup, maintained by the streaming loop at compaction
    exactly like the signature index's bucket table (the versioned
    protocol of :func:`~..sources.bucketing.rebuild_bucket_table`; meta
    at ``<segindex_path>_bucketmeta``).  Returns None when the index is
    missing/empty-so-far — callers skip, as with the sig table.

    Sizing: the seen-join's other side arrives already
    hash-partitioned at the session's shuffle parallelism (the winners
    join precedes it), so the table's Exchange elides when
    ``n_buckets`` co-partitions with ``spark.sql.shuffle.partitions``
    — size them together (at 100 TB both are set from the same
    cluster geometry; the plan test pins the elision)."""
    seg = read_parquet_recovering(spark, segindex_path)
    if seg is None:
        return None
    return rebuild_bucket_table(
        spark,
        segindex_path + BUCKETMETA_SUFFIX,
        table,
        seg.select("seg_hash", "doc_id"),
        SEG_BUCKET_KEYS,
        n_buckets,
        covered_batch,
    )


def paragraph_delta(
    admitted: DataFrame,
    seg_index: DataFrame | list[DataFrame] | None,
    seg_words: int = 5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch of incremental keep-first paragraph dedup.

    ``admitted``: the batch's surviving (doc_id, text, ...) rows;
    ``seg_index``: the persisted (seg_hash, doc_id, ...) index with
    the caller's replay exclusion already applied (None for the first
    batch).  A LIST of relations probes each independently and treats
    a hash as seen if ANY names it — the bucketed-table + parquet-tail
    split (a pre-union would discard the table's bucketing; as two
    probes the table side joins with no Exchange).  Returns
    ``(clean, delta, segs)``:

      * ``clean`` — (doc_id, n_segments, n_kept, n_dup, kept_text)
        with cross-batch dups cut exactly like within-batch ones;
      * ``delta`` — (seg_hash, doc_id) NEW index rows: this batch's
        winners for hashes the index has never seen;
      * ``segs`` — the persisted segment relation BOTH outputs read
        (caller materializes both writes, then unpersists — the
        streaming loop's cache discipline)."""
    from pyspark import StorageLevel

    segs = segment_hashes(admitted, seg_words).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # lexicographic (doc_id, seg_idx) struct min — the packed-int64
    # form wrapped for the WARC path's 60-bit doc_ids (see
    # operators/dedup.paragraph_dedup)
    key = F.struct(F.col("doc_id"), F.col("seg_idx"))
    winners = segs.groupBy("seg_hash").agg(F.min(key).alias("_winner"))
    rels = (
        seg_index
        if isinstance(seg_index, (list, tuple))
        else ([] if seg_index is None else [seg_index])
    )
    decided = segs.join(winners, "seg_hash")
    fresh = F.lit(True)
    for i, rel in enumerate(rels):
        # distinct keeps the seen-join one-row-per-hash (index rows are
        # unique by seg_hash by construction, but the tail may overlap
        # a just-rebuilt table — replay residue the flag must absorb);
        # on a bucketed relation the aggregate reuses the bucketing, no
        # Exchange
        seen = (
            rel.select("seg_hash")
            .distinct()
            .withColumn(f"_seen{i}", F.lit(True))
        )
        decided = decided.join(seen, "seg_hash", "left")
        fresh = fresh & F.col(f"_seen{i}").isNull()
    keep = (
        fresh
        & (F.col("doc_id") == F.col("_winner.doc_id"))
        & (F.col("seg_idx") == F.col("_winner.seg_idx"))
    )
    kept_struct = F.when(keep, F.struct("seg_idx", "seg_text"))
    clean = decided.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.count(F.when(~keep, 1)).alias("n_dup"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s.seg_text),
            " ",
        ).alias("kept_text"),
    )
    delta = decided.filter(keep).select("seg_hash", "doc_id")
    return clean, delta, segs
