"""Structured Streaming over the documents table: continuous-ingest
curation — the streaming face of the batch curation funnel
(workload/curation.py) composed with the incremental dedup index
(operators/dedup.near_dup_probe).

The reference is batch-only (SURVEY.md §2.9); this is net-new engine
surface, extending the streaming story from events analytics to the
training-data pipeline itself: a crawl that lands files continuously,
each micro-batch quality-gated and deduped against everything ingested
BEFORE it, survivors appended to the corpus and to the signature index.

Design for scale:

* The quality gate is stateless (per-row token statistics) — it rides
  the stream as a map, no watermark, no state store.
* Dedup state lives OUTSIDE the streaming state store, as a persisted
  parquet signature index (8 int64 per document).  Structured
  Streaming's own dedup (`dropDuplicatesWithinWatermark`) bounds state
  by TIME, which is right for replayed events but wrong for corpus
  dedup — a duplicate document may arrive months after the original.
  The index form keeps state O(corpus docs x 8 ints) with no
  watermark eviction, survives restarts (it is just a table), and the
  probe cost is one scan of the index joined to the broadcast batch,
  not a state-store lookup scan.
* `foreachBatch` is at-least-once, so every table write is IDEMPOTENT
  under replay: corpus and index appends land in an
  ``ingest_batch=<id>`` partition via dynamic partition overwrite (a
  replayed batch rewrites its own partition instead of appending a
  second copy), and the dedup probe ignores index rows under the
  batch's own doc_ids (after a crash between
  the index write and the checkpoint commit, the replayed batch would
  otherwise collide with itself and overwrite its corpus partition
  empty — and the id-based exclusion stays correct even after a
  compaction has folded those rows out of their original partition).
* Small-file accretion (one parquet file per micro-batch — after 1e5
  micro-batches the probe reads 1e5 footers) is handled by periodic
  COMPACTION (``compact_every``): all partitions except the current
  batch's fold into a single ``ingest_batch=-1`` base partition via an
  atomic directory swap (sources/atomic.py).  The compacted base can
  additionally be materialized as a catalog table bucketed by
  (band, k0, k1) — :func:`build_bucketed_sig_index` — which the probe
  reads pre-exploded, still with no exchange on either side.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
    N_HASHES,
    ROWS_PER_BAND,
    minhash_signatures,
    near_dup_probe,
    shingle_hashes,
    signature_buckets,
    tokens,
)
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation
from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import (
    atomic_replace,
    live_table_dir,
    read_parquet_recovering,
    resolve_table_dir,
)
from semantic_similarity_system_using_aws_mapreduce_spark.sources.bucketing import (
    BUCKETMETA_SUFFIX,
    bucket_probe,
    drop_bucket_versions,
    live_bucket_version,
    rebuild_bucket_table,
    warehouse_dir,
)
from semantic_similarity_system_using_aws_mapreduce_spark.streaming.paragraphs import (
    CLEAN_SUFFIX,
    SEG_BUCKET_DDL,
    SEG_BUCKET_KEYS,
    SEG_TABLE_SUFFIX,
    SEGINDEX_SUFFIX,
    build_bucketed_seg_index,
    paragraph_delta,
)
from semantic_similarity_system_using_aws_mapreduce_spark.streaming.retrieval import (
    DOCLENS_SUFFIX,
    POSTINGS_SUFFIX,
    compact_retrieval,
    postings_delta,
)
from semantic_similarity_system_using_aws_mapreduce_spark.threads import submit

#: bucket keys of the signature index's LSH banding (operators/dedup's
#: N_BANDS x ROWS_PER_BAND): the bucket table's build, its parquet tail
#: and the near-dup probe all read the one banding, so their keys agree
SIG_BUCKET_KEYS = ["band"] + [f"k{r}" for r in range(ROWS_PER_BAND)]
#: the signature bucket table's columns, for its re-registration in a
#: fresh session
SIG_BUCKET_DDL = "doc_id BIGINT, band INT, " + ", ".join(
    f"{k} BIGINT" for k in SIG_BUCKET_KEYS[1:]
)

#: the signature index's columns (partitioned by ``ingest_batch``):
#: the writer conforms to them and the per-batch probe reads with them,
#: so no read infers a schema (a footer-reading Spark job per read)
SIG_INDEX_DDL = "doc_id BIGINT, " + ", ".join(f"h{k} BIGINT" for k in range(N_HASHES))

#: target rows per file of a compacted base partition (:func:`compact_index`)
ROWS_PER_COMPACTED_FILE = 2_000_000

#: content-digest index table suffix (keep-newest ingest): one row per
#: ADMITTED document — (digest, doc_id, <ts_col>, supersedes) in
#: per-batch partitions, the table a later micro-batch probes to
#: decide whether an arriving digest is fresh, a stale re-delivery, or
#: a re-crawl that supersedes the corpus copy.  ``supersedes`` mirrors
#: the corpus row's marker, making this narrow table the SYSTEM OF
#: RECORD for supersession: visible-view readers (read_corpus_asof's
#: current view, bm25_search_postings) derive the superseded-id set
#: from a column-pruned filter of these 4 columns instead of scanning
#: the corpus, and RTBF chain expansion walks these edges.
DIGESTS_SUFFIX = "_digests"
#: the digests table's columns, ``{ts}`` the stream's timestamp column
#: (stored as TIMESTAMP: every reader compares it as unix micros); the
#: writer conforms to them and the per-batch decision reads with them
DIGESTS_DDL = "doc_id BIGINT, digest STRING, `{ts}` TIMESTAMP, supersedes BIGINT"

#: sentinel ``ingest_batch`` value for compacted history — Structured
#: Streaming batch ids start at 0, so -1 can never collide with a live
#: micro-batch partition.
COMPACTED_BATCH = -1


#: binaryFile's FIXED source schema (Spark's binary file data source)
#: — declared literally so the streaming reader needs no priming batch
#: read of a possibly-empty crawl drop directory
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _shape_record_rejects(rejects: DataFrame, docs: DataFrame) -> DataFrame:
    """Project record-level quarantine rows (the raw WARC_SCHEMA
    shape — corrupt framing, unparseable Content-Length) onto the
    docs stream's exact column set so they can ride behind the
    ``_crawl_reject`` flag: the offending header bytes as latin-1
    text (a total coding — forensics, not content), a DETERMINISTIC
    fallback doc_id keyed on (archive, offending bytes) since a torn
    record usually has no WARC-Record-ID (replay reproduces the same
    row bit-identically), and typed nulls for every docs column a
    broken record cannot supply."""
    derived = {
        "doc_id": F.conv(
            F.substring(
                F.md5(
                    F.coalesce(
                        F.encode(F.col("record_id"), "UTF-8"),
                        F.concat(
                            F.encode(F.col("warc_file"), "UTF-8"),
                            F.col("payload"),
                        ),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        "text": F.decode(F.col("payload"), "ISO-8859-1"),
        "source": F.coalesce(
            F.try_parse_url(F.col("target_uri"), F.lit("HOST")),
            F.lit("unknown"),
        ),
        "n_chars": F.length(F.col("payload")).cast("long"),
        "fetched_at": F.try_to_timestamp(F.col("warc_date")),
    }
    return rejects.select(
        *[
            (
                derived[f.name]
                if f.name in derived
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in docs.schema.fields
        ]
    )


def read_document_stream(
    spark: SparkSession, source_dir: str, source_format: str = "parquet"
) -> DataFrame:
    """File-source stream over a directory of document files (the
    local test harness; swap for Kafka/auto-loader in production).
    One file per micro-batch, in file order, so ingest is
    deterministic and replayable.

    ``source_format``:

    * ``parquet`` — documents-shaped parquet (the default).
    * ``warc`` / ``wet`` — raw crawl archives (.warc[.gz] / WET
      extracts): each micro-batch is ONE archive read as binary,
      parsed by the same bounded ``mapInPandas`` record pass as the
      batch reader (sources/warc.warc_records — HTTP coding removal
      and charset decode included), projected onto the documents
      shape (``warc_text_documents`` / ``wet_documents``).  Every
      stage is a stateless projection/filter, so the chain is legal
      on the streaming DataFrame, and the docs carry
      ``n_repl``/``n_chars`` — the streaming quality gate's mojibake
      reject fires on crawl input with no extra wiring.  doc_ids are
      md5(record_id), so a replayed archive reproduces its rows
      bit-identically (the replay-idempotence contract)."""
    if source_format in ("warc", "wet"):
        from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import (
            warc_records,
            warc_text_documents,
            wet_documents,
        )

        files = (
            spark.readStream.format("binaryFile")
            .schema(_BINARY_FILE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .load(source_dir)
        )
        records = warc_records(files)
        if source_format == "wet":
            # record-level quarantine parity with the WARC branch:
            # corrupt WET framing rows ride the docs stream behind
            # the same flag so the ingest loop lands them in
            # <corpus>_rejects — a torn archive must be
            # distinguishable from an empty one on the streaming
            # lifecycle too, not only through the batch CLI
            docs, rejects = wet_documents(records)
            shaped = _shape_record_rejects(rejects, docs)
        else:
            # raw-crawl rejects (non-2xx, empty extraction) share the
            # docs shape — carry them on the stream behind a flag so
            # the ingest loop can land them in <corpus>_rejects
            # instead of silently narrowing the batch readers'
            # (docs, rejects) contract.  Record-level corrupt framing
            # rows (which response_bodies filters out before shaping)
            # join them through the same projection, as in the WET
            # branch.
            docs, rejects = warc_text_documents(records)
            shaped = rejects.drop("http_status").unionByName(
                _shape_record_rejects(records.filter(F.col("corrupt")), docs)
            )
        return docs.withColumn("_crawl_reject", F.lit(False)).unionByName(
            shaped.withColumn("_crawl_reject", F.lit(True))
        )
    if source_format != "parquet":
        raise ValueError(f"unknown source_format: {source_format!r}")
    schema = spark.read.parquet(source_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def _gate_flag(stream: DataFrame, min_tokens: int, min_ttr: float) -> DataFrame:
    """``stream`` plus the stateless quality-gate verdict as ``_gated``:
    the batch curation funnel's flag stage applied as a pure map (same
    thresholds, same statistics: token count and type-token ratio,
    plus -- when the ingest path supplies the WARC decode's ``n_repl``
    column -- the same integer cross-multiplied mojibake-density reject
    as run_curation.curate)."""
    toks = tokens(F.col("text"))
    flagged = stream.withColumn("_toks", toks).withColumn(
        "_ttr", F.size(F.array_distinct("_toks")) / F.size("_toks")
    )
    keep = (F.size("_toks") >= min_tokens) & (F.col("_ttr") >= min_ttr)
    if "n_repl" in stream.columns and "n_chars" in stream.columns:
        from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import MOJIBAKE_MAX_PERMILLE

        keep = keep & (
            F.coalesce(F.col("n_repl"), F.lit(0)) * 1000
            <= F.lit(MOJIBAKE_MAX_PERMILLE)
            * F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1))
        )
    return flagged.withColumn("_gated", keep).drop("_toks", "_ttr")


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent micro-batch append: the rows land in the
    ``ingest_batch=<id>`` Hive partition via dynamic partition
    overwrite, so an at-least-once replay of the batch REWRITES its
    own partition instead of appending a duplicate copy.  The target
    resolves through :func:`~..sources.atomic.resolve_table_dir` so the
    same code appends into the bare directory (rename mode) or into
    the manifest-named live version (manifest mode — object stores)."""
    (
        df.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(resolve_table_dir(path))
    )


def read_corpus_asof(
    spark: SparkSession, corpus_path: str, batch: int | None = None
) -> DataFrame | None:
    """Reproducibility read: the curated corpus EXACTLY as it stood
    after micro-batch ``batch`` committed (``None`` = the current
    corpus) — the ``ingest_batch`` partition layout doubles as a free
    version axis, so pinning a training run to its ingest watermark is
    a partition-pruned filter (``ingest_batch <= batch``), no table
    format or snapshot log needed.  Rows folded away by a later corpus
    compaction are out of scope here: the CORPUS is never compacted
    (only the signature index is), precisely so this axis stays
    truthful.  Returns None before anything was ingested.

    Keep-newest corpora: a superseded row is HIDDEN, not deleted —
    each superseding row carries its predecessor's id in
    ``supersedes``, so the filter is an anti-join of the windowed
    corpus against the superseded-id markers.  Because the markers are
    windowed too, the axis stays truthful: at a watermark BEFORE the
    re-crawl arrived the older copy is still visible, at or after it
    the newer copy replaces it — and supersession chains resolve
    correctly at every watermark (each link hides exactly its
    predecessor).  Keep-first corpora have no ``supersedes`` column
    and skip the join.

    Marker source: the CURRENT view reads the markers from the narrow
    ``<corpus>_digests`` table (4 columns, compacted on the index
    cadence — the supersession system of record) instead of the
    corpus, so the anti-join's build side does not ride a scan whose
    file count and row width grow with the corpus.  HISTORICAL
    watermarks read the corpus's own ``supersedes`` column: digests
    compaction folds the per-batch window axis away, while the corpus
    is never compacted — it is the only table that can answer "as of
    batch N" truthfully."""
    corpus = read_parquet_recovering(spark, corpus_path)
    if corpus is None:
        return None
    if batch is not None:
        corpus = corpus.filter(F.col("ingest_batch") <= batch)
    if "supersedes" in corpus.columns:
        dig = None
        if batch is None:
            dig = read_parquet_recovering(spark, corpus_path + DIGESTS_SUFFIX)
        markers = (corpus if dig is None else dig).filter(
            F.col("supersedes").isNotNull()
        )
        corpus = corpus.join(
            markers.select(F.col("supersedes").alias("doc_id")), "doc_id", "left_anti"
        )
    return corpus


def corpus_versions(spark: SparkSession, corpus_path: str) -> list[int]:
    """The committed ingest watermarks available to
    :func:`read_corpus_asof`, ascending (one per non-empty
    micro-batch).  Answered from the partition DIRECTORY NAMES alone —
    the values are the version axis, so listing metadata beats a
    distinct scan job over every corpus file."""
    table_dir = resolve_table_dir(corpus_path, initialize=False)
    if not os.path.isdir(table_dir):
        return []
    out = []
    for d in os.listdir(table_dir):
        if d.startswith("ingest_batch="):
            v = d.split("=", 1)[1]
            try:
                out.append(int(v))
            except ValueError:
                continue
    return sorted(out)


def compact_index(
    spark: SparkSession,
    index_path: str,
    keep_batch: int,
    dedup_keys: tuple[str, ...] = ("doc_id",),
) -> None:
    """Fold every index partition EXCEPT ``keep_batch``'s into a
    bounded-file-count ``ingest_batch=-1`` base partition, atomically.
    Without this, one parquet file accrues per micro-batch and the
    probe join eventually reads 1e5 footers.  ``keep_batch`` (the
    in-flight micro-batch) stays in its own partition so a
    crash-replay of that batch can still exclude its own rows from
    the probe.

    The fold's width follows the measured base size (one cheap count
    over 8-long rows): ~``ROWS_PER_COMPACTED_FILE`` rows per output
    file, capped at the cluster's parallelism — never a single-task
    rewrite of the whole accumulated index (the base grows with the
    corpus, unlike the CMS sketch's bounded cells)."""
    from pyspark import StorageLevel

    index = read_parquet_recovering(spark, index_path)
    if index is None:
        return
    # a replayed batch rewrites its partition while its rows may
    # already sit in the base — the fold dedupes by the table's
    # logical key so such residue can never accumulate (signature
    # index: doc_id; postings: (doc_id, term); segments: seg_hash).
    # The survivor is the MIN-struct over the remaining columns, not
    # dropDuplicates' arbitrary row: if residue ever carries two doc
    # attributions for one seg_hash, a nondeterministic winner would
    # make a later RTBF on the true owner leave the content-derived
    # hash attributed to another doc.  min(struct(...)) is still
    # partial-aggregated map-side, same shuffle as dropDuplicates.
    keys = list(dedup_keys)
    rest = [c for c in index.columns if c not in keys]
    folded = (
        index.filter(F.col("ingest_batch") != keep_batch)
        .groupBy(*keys)
        .agg(F.min(F.struct(*rest)).alias("_win"))
        .select(*keys, *[F.col(f"_win.{c}").alias(c) for c in rest])
        # restore the table's column order for the unionByName below
        .select(*index.columns)
        # the sizing count and the rewrite both consume the fold —
        # persist so the scan + dedup shuffle runs once, not twice
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n = folded.count()
        n_files = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                -(-n // ROWS_PER_COMPACTED_FILE),
            ),
        )
        base = folded.withColumn(
            "ingest_batch", F.lit(COMPACTED_BATCH)
        ).repartition(n_files)
        tail = index.filter(F.col("ingest_batch") == keep_batch)
        atomic_replace(
            base.unionByName(tail), index_path, partition_by=["ingest_batch"]
        )
    finally:
        folded.unpersist()


def build_bucketed_sig_index(
    spark: SparkSession,
    index_path: str,
    table: str,
    n_buckets: int = 32,
    covered_batch: int | None = None,
) -> DataFrame | None:
    """Materialize the signature index's BUCKET relation (the
    :func:`~..operators.dedup.signature_buckets` explode) as a catalog
    table bucketed by the probe-join key (band, k0, k1).  The near-dup
    probe joins it to the broadcast batch as it joins the plain index,
    so it saves the per-batch explode, not an exchange, and the
    candidates' signatures then cost one more semi-join of the index.

    ``covered_batch`` (the streaming loop passes the compacting batch
    id) makes the rebuild VERSIONED: the table lands as a fresh
    version and the meta at ``<index_path>_bucketmeta`` swaps to name
    it (:func:`~..sources.bucketing.rebuild_bucket_table` has the crash
    reasoning).  The probe treats index partitions with
    ``ingest_batch > covered_batch`` as the parquet tail
    (:func:`~..sources.bucketing.bucket_probe`).

    Returns None (instead of raising) when the index is missing or
    empty-so-far — a compact_every=1 stream whose first batches were
    all rejected must skip the rebuild, not wedge on an exception."""
    sigs = read_parquet_recovering(spark, index_path)
    if sigs is None:
        return None
    return rebuild_bucket_table(
        spark,
        index_path + BUCKETMETA_SUFFIX,
        table,
        signature_buckets(sigs),
        SIG_BUCKET_KEYS,
        n_buckets,
        covered_batch,
    )


@dataclass(frozen=True)
class _Curation:
    """One :func:`run_streaming_curation` run's session and options,
    fixed for every micro-batch."""

    spark: SparkSession
    corpus_path: str
    index_path: str
    min_tokens: int
    min_ttr: float
    min_agree: int
    compact_every: int
    bucket_index_table: str | None
    n_index_buckets: int
    stats: bool
    postings: bool
    paragraphs: bool
    keep_newest: bool
    ts_col: str


@dataclass
class _Decision:
    """One micro-batch's dedup decision, held driver-side.  Every field
    is bounded by the MICRO-BATCH (one entry per batch document or per
    verified partner), and so is every input it is decided from: the
    batch's rows and signatures are collected once, and the persisted
    tables are probed with them as Arrow-built ``LocalRelation`` leaves
    (:func:`_id_frame`), one query per probe.  Only id sets and id->id
    maps re-enter the write plans.  Keep-first leaves every
    supersession field empty."""

    #: fresh signature-bearing survivors
    kept: set = field(default_factory=set)
    #: exact-digest superseders, (doc_id, superseded doc_id)
    sup_pairs: list = field(default_factory=list)
    #: near-dup superseders, (doc_id, superseded doc_id)
    nsup_pairs: list = field(default_factory=list)
    #: near-dups whose every colliding partner is already hidden
    revived: list = field(default_factory=list)
    #: keep-newest: the batch's fresh-digest winners (None = every
    #: gated document is fresh, the keep-first case)
    fresh: list | None = None
    #: keep-newest: the per-digest batch winners' timestamps in unix
    #: microseconds
    ts: dict = field(default_factory=dict)
    #: keep-newest: the digests index less this batch's own rows
    dindex: DataFrame | None = None

    def admit_ids(self) -> set:
        return (
            self.kept
            | {d for d, _ in self.sup_pairs + self.nsup_pairs}
            | set(self.revived)
        )


def _id_frame(spark: SparkSession, ids, col: str = "doc_id") -> DataFrame:
    """A batch-bounded id set as a broadcast-hinted ``LocalRelation``:
    its broadcast build reads driver-held rows with no Python worker, in
    one small job per query that broadcasts it."""
    return F.broadcast(
        local_relation(spark, [(i,) for i in sorted(set(ids))], f"{col} long")
    )


def _conform(df: DataFrame, ddl: str) -> DataFrame:
    """``df``'s columns named in ``ddl``, in its order and types."""
    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in StructType.fromDDL(ddl)]
    )


def _read_fixed(spark: SparkSession, path: str, ddl: str) -> DataFrame | None:
    """The table at ``path`` read with the schema its writer conformed
    to (partition columns appended), or None before its first row."""
    d = live_table_dir(path)
    return None if d is None else spark.read.schema(ddl).parquet(d)


def _micros(col: str):
    """``col`` as unix MICROSECONDS: every newer-than comparison is then
    exact int64 arithmetic, with None for null."""
    return F.unix_micros(F.col(col).cast("timestamp")).alias("_us")


def _newer(arr_us: int | None, ix_us: int | None) -> bool:
    """Strictly newer with null timestamps ordering LOWEST: a null
    arrival never supersedes, a dated arrival beats an undated indexed
    copy, and null-vs-null drops."""
    if arr_us is None:
        return False
    return ix_us is None or arr_us > ix_us


def _newest_visible(cands, hidden: set) -> dict:
    """``group -> (doc_id, us)`` of the newest candidate per group that
    is not ``hidden``, from ``(group, doc_id, us)`` triples: the newest
    timestamp wins, null timestamps order lowest, ties go to the
    greatest id."""
    best: dict = {}
    for group, doc, us in cands:
        if doc in hidden:
            continue
        key = (us is not None, us or 0, doc)
        if group not in best or key > best[group][0]:
            best[group] = (key, doc, us)
    return {g: (doc, us) for g, (_, doc, us) in best.items()}


def _tagged(kind: str, df: DataFrame) -> DataFrame:
    """``df`` in the one row shape a digests probe unions, so each probe
    is one query: (kind, doc_id, digest, _us), absent columns null."""
    return df.select(
        F.lit(kind).alias("kind"),
        "doc_id",
        *[
            F.col(name) if name in df.columns else F.lit(None).cast(type_).alias(name)
            for name, type_ in (("digest", "string"), ("_us", "long"))
        ],
    )


def _hidden_of(dindex: DataFrame, ids: DataFrame) -> DataFrame:
    """``hidden`` rows: the ``ids`` some digests row supersedes.  The
    marker relation is corpus-lifetime-sized, so it is semi-joined down
    to the batch-bounded ids, map-side."""
    return _tagged(
        "hidden",
        dindex.join(
            F.broadcast(ids.select(F.col("doc_id").alias("supersedes"))),
            "supersedes",
            "semi",
        ).select(F.col("supersedes").alias("doc_id")),
    )


def _gate(
    c: _Curation, batch: DataFrame, batch_id: int, caches: list
) -> tuple[list, DataFrame]:
    """``(rows, gated)``: crawl rejects land in ``<corpus>_rejects``,
    the rest is flagged by the quality gate and cached, and ``gated``
    is its passing rows.  ``rows`` is the batch collected once, one row
    per arrived document (bounded by the micro-batch): ``(doc_id,
    _gated)``, and with keep-newest the content ``digest`` and the
    timestamp in unix micros ``_us`` -- every batch-side input of the
    dedup decision and the stats row.  A crawl batch is cached RAW
    first: upstream of here is the archive's whole parse and HTML
    extraction, which the rejects write and the docs arm would
    otherwise each re-run."""
    if "_crawl_reject" in batch.columns:
        raw = batch.cache()
        caches.append(raw)
        _write_batch_partition(
            raw.filter(F.col("_crawl_reject")).drop("_crawl_reject"),
            c.corpus_path + "_rejects",
            batch_id,
        )
        batch = raw.filter(~F.col("_crawl_reject")).drop("_crawl_reject")
    flagged = _gate_flag(batch, c.min_tokens, c.min_ttr).cache()
    caches.append(flagged)
    cols = ["doc_id", "_gated"]
    if c.keep_newest:
        cols += [F.md5("text").alias("digest"), _micros(c.ts_col)]
    rows = flagged.select(*cols).collect()
    return rows, flagged.filter("_gated").drop("_gated")


def _exact_decision(
    c: _Curation, rows: list, own_ids: DataFrame, batch_id: int
) -> _Decision:
    """Keep-newest exact-digest decision against the ``<corpus>_digests``
    table.  Invariants:

    * Within a batch the newest copy per content digest wins, ties by
      greatest id (the batch funnel's rule, run_curation.py).
    * Across batches an arrival STRICTLY newer (:func:`_newer`) than
      the newest VISIBLE indexed copy of its digest supersedes that
      copy; not newer, it drops like a keep-first duplicate.
    * HIDDEN copies leave the exact-match pool: a chain head superseded
      by a near-dup edit has a different digest than its superseder,
      so a page reverted to its pre-edit bytes must not match its own
      hidden ancestor.  It routes through the near-dup probe instead
      and supersedes the VISIBLE head.
    * doc_ids are globally unique across batches (a re-crawl mints a
      new id).  An arriving id an EARLIER batch admitted fails the
      batch: the replay exclusion would strip its digest row, bypass
      both probes and land a second visible row under that id.  A
      replay is told apart because its residue sits in this batch's
      own partition, which compaction always spares.

    The digests table is read by ONE query: the id-reuse check, the
    digest probe and the hidden markers of the probe's hits, unioned,
    every batch side a broadcast ``LocalRelation``.  Its rows are
    bounded by the batch's ids and digests times their copies in the
    supersession history.  At 10^9 documents the 4-column table is
    ~50 GB, and a column-pruned exchange-free scan per batch is two
    orders below the batch's own parse+shingle cost; bucketing it would
    save no shuffle (the plan has none) and digest randomness defeats
    min/max pruning."""
    winners = _newest_visible(
        ((r["digest"], r["doc_id"], r["_us"]) for r in rows if r["_gated"]), set()
    )
    d = _Decision(ts=dict(winners.values()))
    dindex = _read_fixed(
        c.spark, c.corpus_path + DIGESTS_SUFFIX, DIGESTS_DDL.format(ts=c.ts_col)
    )
    if dindex is None:
        d.fresh = sorted(d.ts)
        return d
    d.dindex = dindex.join(own_ids, "doc_id", "left_anti")
    digests = local_relation(c.spark, [(g,) for g in sorted(winners)], "digest string")
    probe = d.dindex.join(F.broadcast(digests), "digest").select(
        "doc_id", "digest", _micros(c.ts_col)
    )
    earlier = dindex.filter(F.col("ingest_batch") != batch_id)
    found = (
        _tagged("reused", earlier.join(own_ids, "doc_id", "semi"))
        .unionByName(_tagged("hit", probe))
        .unionByName(_hidden_of(d.dindex, probe))
        .collect()
    )
    reused = sorted(r["doc_id"] for r in found if r["kind"] == "reused")
    if reused:
        ids_s = ", ".join(str(i) for i in reused[:3])
        raise ValueError(
            "keep-newest ingest requires globally unique "
            f"doc_ids across batches: arriving ids [{ids_s}"
            "...] were already admitted by an earlier "
            "micro-batch.  Re-crawls must mint a NEW "
            "doc_id (the crawl readers derive it from the "
            "WARC record id); supersession links the new "
            "id to the old one."
        )
    hits = _newest_visible(
        ((r["digest"], r["doc_id"], r["_us"]) for r in found if r["kind"] == "hit"),
        {r["doc_id"] for r in found if r["kind"] == "hidden"},
    )
    d.fresh = []
    for digest, (doc, us) in sorted(winners.items()):
        hit = hits.get(digest)
        if hit is None:
            d.fresh.append(doc)
        elif _newer(us, hit[1]):
            d.sup_pairs.append((doc, hit[0]))
    return d


def _signatures(
    c: _Curation, gated: DataFrame, d: _Decision, caches: list
) -> tuple[DataFrame, list]:
    """``(sigs_all, probe_rows)``: the cached minhash signatures of every
    doc that may be admitted, and the collected ``(doc_id, h0..h7)``
    rows of those that face the near-dup probe (bounded by the
    micro-batch).  Keep-newest shingles only the fresh winners and the
    exact superseders, and only the FRESH face the probe: a superseder
    is digest-identical to an admitted document, so the probe would
    uselessly report it as a dup of the copy it replaces.  Signature
    rows join the index under the new doc_id; the predecessor's stay,
    and near-dup drops against them remain correct because a surviving
    copy carries the same or near-identical content."""
    pool = gated
    if d.fresh is not None:
        pool = gated.join(
            _id_frame(c.spark, d.fresh + [x for x, _ in d.sup_pairs]), "doc_id"
        )
    # distinct=False: min-signatures are duplicate-blind
    sigs_all = minhash_signatures(shingle_hashes(pool, distinct=False)).cache()
    caches.append(sigs_all)
    cols = ["doc_id"] + [f"h{k}" for k in range(N_HASHES)]
    rows = [tuple(r) for r in sigs_all.select(*cols).collect()]
    if d.fresh is not None:
        fresh = set(d.fresh)
        rows = [r for r in rows if r[0] in fresh]
    return sigs_all, rows


def _sig_probe(
    c: _Curation, own_ids: DataFrame
) -> tuple[DataFrame | None, list[DataFrame] | None]:
    """``(index, bucketed)`` for the near-dup probe: the signature index
    (None before the first write), and with a bucket table its live
    version less this batch's own rows plus the parquet tail the
    version does not cover."""
    index = _read_fixed(c.spark, c.index_path, SIG_INDEX_DDL)
    if index is None:
        return None, None
    probe = c.bucket_index_table and bucket_probe(
        c.spark, c.index_path + BUCKETMETA_SUFFIX, index, own_ids,
        SIG_BUCKET_DDL, SIG_BUCKET_KEYS,
    )
    return index, probe or None


def _near_dup_decision(
    c: _Curation,
    d: _Decision,
    probe_rows: list,
    index: DataFrame | None,
    bucketed: list[DataFrame] | None,
) -> None:
    """Probe ``probe_rows`` against the signature index
    (:func:`~..operators.dedup.near_dup_probe`) and decide, both modes:
    a signature-bearing doc with no verified partner is kept (a gated
    doc too short to shingle has no signature and is not).

    Keep-newest near-dup rule, for docs whose every partner is INDEXED
    (docs with an in-batch partner keep the keep-first in-batch rule;
    the surviving smaller id carries any supersession): the newest
    VISIBLE partner decides, judged on the full verified-collision
    relation because the minimum partner id is often a long-superseded
    ancestor.  Strictly newer => the arrival supersedes that partner;
    not newer => it drops; every partner hidden => it is admitted as
    fresh (dedup protects the visible view, not the graveyard).

    The partners' timestamps and hidden markers are ONE query over the
    digests table, bounded by the verified partners of the batch's
    documents."""
    scored = near_dup_probe(c.spark, probe_rows, index, c.min_agree, bucketed)
    d.kept = {r[0] for r in probe_rows} - {doc for doc, _, _, _ in scored}
    if d.dindex is None:
        return
    inb = {doc for doc, _, _, in_batch in scored if in_batch}
    pairs = {
        (doc, p) for doc, p, _, in_batch in scored if not in_batch and doc not in inb
    }
    if not pairs:
        return
    ids = _id_frame(c.spark, {p for _, p in pairs})
    partners = d.dindex.join(ids, "doc_id", "semi").select("doc_id", _micros(c.ts_col))
    found = _tagged("ts", partners).unionByName(_hidden_of(d.dindex, ids)).collect()
    p_ts = {r["doc_id"]: r["_us"] for r in found if r["kind"] == "ts"}
    best = _newest_visible(
        ((doc, p, p_ts.get(p)) for doc, p in pairs),
        {r["doc_id"] for r in found if r["kind"] == "hidden"},
    )
    for doc in sorted({x for x, _ in pairs}):
        if doc not in best:
            d.revived.append(doc)
        elif _newer(d.ts.get(doc), best[doc][1]):
            d.nsup_pairs.append((doc, best[doc][0]))


def _with_supersedes(c: _Curation, df: DataFrame, pairs: list) -> DataFrame:
    """``df`` plus its rows' ``supersedes`` marker (null for fresh
    rows — the column exists from batch 0, so partition reads never
    depend on footer merge)."""
    if not pairs:
        return df.withColumn("supersedes", F.lit(None).cast("long"))
    marks = local_relation(c.spark, sorted(pairs), "doc_id long, supersedes long")
    return df.join(F.broadcast(marks), "doc_id", "left")


def _write_admitted(
    c: _Curation,
    pool: ThreadPoolExecutor,
    batch_id: int,
    gated: DataFrame,
    sigs_all: DataFrame,
    d: _Decision,
) -> tuple[list[Future], DataFrame, DataFrame]:
    """Append the admit set to the corpus and its signatures to the
    index, and with keep-newest its rows to ``<corpus>_digests``, each
    on a ``pool`` thread; returns ``(appends, admitted, admit_ids)``,
    the appends' futures for the caller to read.

    A superseder's corpus row carries its predecessor's id in
    ``supersedes``: the corpus stays append-only and the stale row is
    HIDDEN by :func:`read_corpus_asof`, so the as-of axis stays
    truthful and replays stay partition-local.  The digests row mirrors
    the marker, which makes that narrow table the supersession system
    of record (visible-view readers and RTBF chain expansion never read
    the corpus for markers).  Keep-first corpora have no ``supersedes``
    column and no digests table."""
    admit = _id_frame(c.spark, d.admit_ids())
    admitted = gated.join(admit, "doc_id")
    writes = [(_conform(sigs_all.join(admit, "doc_id"), SIG_INDEX_DDL), c.index_path)]
    if c.keep_newest:
        # every admitted doc is its digest's batch winner
        admitted = _with_supersedes(c, admitted, d.sup_pairs + d.nsup_pairs)
        writes.append((
            _conform(
                admitted.withColumn("digest", F.md5("text")),
                DIGESTS_DDL.format(ts=c.ts_col),
            ),
            c.corpus_path + DIGESTS_SUFFIX,
        ))
    writes.append((admitted, c.corpus_path))
    appends = [
        submit(pool, c.spark, _write_batch_partition, df, path, batch_id)
        for df, path in writes
    ]
    return appends, admitted, admit


def _paragraphs(
    c: _Curation,
    batch_id: int,
    admitted: DataFrame,
    admit: DataFrame,
    d: _Decision,
    caches: list,
) -> None:
    """Cut the admitted documents' segments against ``<corpus>_segindex``
    into ``<corpus>_clean`` and the index delta.  Invariants:

    * The probe excludes the admit set's own attributions (a replayed
      batch must not shadow itself into all-dup); with a bucket table
      it reads the live version plus the parquet tail.
    * An EXACT superseder INHERITS its predecessor's clean face under
      the new id: re-cutting its digest-identical content would scrub
      every segment as a cross-batch dup and emit an empty face while
      the good one is hidden.  Segment attribution stays with the
      chain's origin, so chain RTBF erases face, segments and corpus
      rows together.  A superseder whose predecessor has no face
      (paragraphs enabled mid-stream) is cut normally.
    * A NEAR-DUP superseder's face is RE-CUT (its content differs),
      with the hidden predecessors' attributions retired from this
      batch's probe VIEW so the edit's unchanged paragraphs survive
      under the new id.  The table itself is untouched, so past
      decisions stay truthful; a hash may then be attributed to two
      chain members, and chain RTBF erases both."""
    seg_path = c.corpus_path + SEGINDEX_SUFFIX
    seg_index = read_parquet_recovering(c.spark, seg_path)
    if seg_index is not None:
        seg_index = [seg_index.join(admit, "doc_id", "left_anti")]
        if c.bucket_index_table:
            seg_index = bucket_probe(
                c.spark, seg_path + BUCKETMETA_SUFFIX, seg_index[0], admit,
                SEG_BUCKET_DDL, SEG_BUCKET_KEYS,
            ) or seg_index
        if d.nsup_pairs:
            retired = _id_frame(c.spark, [s for _, s in d.nsup_pairs])
            seg_index = [r.join(retired, "doc_id", "left_anti") for r in seg_index]
    cut, inherit = admitted, None
    prev_clean = (
        read_parquet_recovering(c.spark, c.corpus_path + CLEAN_SUFFIX)
        if d.sup_pairs
        else None
    )
    if prev_clean is not None:
        heirs = local_relation(
            c.spark,
            [(s, x) for x, s in sorted(d.sup_pairs)],
            "doc_id long, _new_id long",
        )
        inherit = (
            prev_clean.join(F.broadcast(heirs), "doc_id")
            .select(
                F.col("_new_id").alias("doc_id"),
                "n_segments", "n_kept", "n_dup", "kept_text",
            )
            .cache()
        )
        caches.append(inherit)
        # only the clean table knows which predecessors have a face
        inherited = [r["doc_id"] for r in inherit.select("doc_id").collect()]
        if inherited:
            cut = admitted.join(_id_frame(c.spark, inherited), "doc_id", "left_anti")
        else:
            inherit = None
    clean, seg_delta, segs = paragraph_delta(cut, seg_index)
    caches.append(segs)
    if inherit is not None:
        clean = clean.unionByName(inherit)
    _write_batch_partition(clean, c.corpus_path + CLEAN_SUFFIX, batch_id)
    _write_batch_partition(seg_delta, seg_path, batch_id)


def _write_stats(c: _Curation, batch_id: int, rows: list, n_kept: int) -> None:
    """One funnel row (n_arrived, n_gated, n_kept) per batch in
    ``<corpus>_stats``, counted from the driver-held batch rows and
    admit set: the row costs only its write."""
    _write_batch_partition(
        local_relation(
            c.spark,
            [(len(rows), sum(bool(r["_gated"]) for r in rows), n_kept)],
            "n_arrived long, n_gated long, n_kept long",
        ),
        c.corpus_path + "_stats",
        batch_id,
    )


def _compact(c: _Curation, batch_id: int) -> None:
    """Fold every per-batch table but this batch's partition.  Each
    bucket table is rebuilt BEFORE its index folds, so a crash between
    the two leaves the meta stale-but-safe (the tail then overlaps the
    table; see :func:`~..sources.bucketing.bucket_probe`).  The digests
    table keys on (digest, doc_id): a digest maps to every copy in its
    supersession history, so only replay residue dedups away.  The
    ``_clean`` table is corpus-like and never compacted, so its batch
    axis stays truthful for as-of reads."""
    if c.bucket_index_table:
        build_bucketed_sig_index(
            c.spark, c.index_path, c.bucket_index_table,
            n_buckets=c.n_index_buckets, covered_batch=batch_id,
        )
    compact_index(c.spark, c.index_path, keep_batch=batch_id)
    if c.keep_newest:
        compact_index(
            c.spark, c.corpus_path + DIGESTS_SUFFIX, keep_batch=batch_id,
            dedup_keys=("digest", "doc_id"),
        )
    if c.postings:
        compact_retrieval(c.spark, c.corpus_path, keep_batch=batch_id)
    if c.paragraphs:
        if c.bucket_index_table:
            build_bucketed_seg_index(
                c.spark, c.corpus_path + SEGINDEX_SUFFIX,
                c.bucket_index_table + SEG_TABLE_SUFFIX,
                n_buckets=c.n_index_buckets, covered_batch=batch_id,
            )
        compact_index(
            c.spark, c.corpus_path + SEGINDEX_SUFFIX, keep_batch=batch_id,
            dedup_keys=("seg_hash",),
        )


def run_streaming_curation(
    spark: SparkSession,
    source_dir: str,
    corpus_path: str,
    index_path: str,
    min_tokens: int = 24,
    min_ttr: float = 0.35,
    min_agree: int = 6,
    compact_every: int = 0,
    bucket_index_table: str | None = None,
    n_index_buckets: int = 32,
    stats: bool = False,
    postings: bool = False,
    paragraphs: bool = False,
    source_format: str = "parquet",
    dedup: str = "keep-first",
    ts_col: str = "fetched_at",
) -> None:
    """Drive the (bounded) document stream through the full curation
    funnel: quality gate -> minhash signatures -> incremental dedup
    against the persisted index -> write survivors to the corpus
    table and their signatures to the index, each into the batch's own
    ``ingest_batch`` partition.  Each micro-batch runs the stages
    below in order; each stage's docstring states the invariants it
    keeps.

    ``compact_every=N`` folds the index's accumulated per-batch
    partitions into a single base partition every N micro-batches
    (:func:`compact_index`), bounding the index file count at ~N+1
    however long ingest runs.

    ``bucket_index_table`` (requires ``compact_every``) additionally
    maintains the bucketed probe table: rebuilt at every compaction
    (:func:`build_bucketed_sig_index`) and probed together with the
    since-rebuild parquet tail in one query.  The probe shuffles
    neither way, so the table buys only the pre-exploded band rows:
    the index scan reads 4 (band, k0, k1) rows per document instead of
    exploding its 8 signature components, and the candidates'
    signatures then cost one semi-join of the index.
    ``n_index_buckets`` sizes it.

    ``stats=True`` additionally writes a one-row-per-batch ingest
    funnel (n_arrived / n_gated / n_kept) to ``<corpus_path>_stats``
    — the operational answer to "what did batch N reject, and why is
    the corpus growing slower than the crawl".

    ``postings=True`` additionally maintains the incremental BM25
    retrieval tables ``<corpus_path>_postings`` / ``_doclens``
    (streaming/retrieval.py): each batch's admitted documents are
    tokenized ONCE, and ``bm25_search_postings`` answers ranked
    queries without ever re-tokenizing the corpus.  A superseded
    copy's rows stay on disk; search ranks only the visible view.

    ``paragraphs=True`` additionally maintains incremental
    paragraph-level dedup (streaming/paragraphs.py, :func:`_paragraphs`):
    each admitted document's segments are cut against the persisted
    ``<corpus_path>_segindex`` keep-first and the scrubbed face lands
    in ``<corpus_path>_clean`` — the raw corpus row is untouched.

    ``dedup``: ``"keep-first"`` drops every arrival that collides with
    an indexed or smaller-id in-batch document.  ``"keep-newest"``
    gives the stream the batch funnel's CRAWL semantics: an arrival
    whose content (exact digest, :func:`_exact_decision`) or near-dup
    signature (:func:`_near_dup_decision`) matches an OLDER visible
    corpus copy by ``ts_col`` SUPERSEDES it instead of dropping
    (:func:`_write_admitted`).  It keeps a ``<corpus_path>_digests``
    table, and needs ``ts_col`` on the stream and globally unique
    doc_ids.  RTBF (:func:`forget_documents`) expands the given ids to
    their whole supersession chains.

    ``source_format`` is passed to :func:`read_document_stream`; the
    gate and ``n_kept`` use ``min_tokens``/``min_ttr``/``min_agree``.

    Exactly-once: ``foreachBatch`` is at-least-once, so every write is
    IDEMPOTENT under replay — each lands in the batch's own
    ``ingest_batch`` partition via dynamic partition overwrite, and
    every probe excludes the batch's own doc_ids, so a batch replayed
    after a crash between its writes and the checkpoint commit
    recomputes the same decision instead of colliding with itself.
    Runs with availableNow (drains everything currently in
    ``source_dir``, one file per micro-batch, then stops) — the test
    and backfill mode; a production deployment runs the same query
    continuously.  The checkpoint skips committed batches, a replayed
    uncommitted batch rewrites its own partitions, and re-ingested
    content that already reached the index drops as a duplicate — an
    at-least-once source yields an exactly-once corpus."""
    if bucket_index_table and not compact_every:
        raise ValueError("bucket_index_table requires compact_every (its rebuild cadence)")
    if dedup not in ("keep-first", "keep-newest"):
        raise ValueError(f"dedup must be keep-first or keep-newest, got {dedup!r}")
    stream = read_document_stream(spark, source_dir, source_format)
    if dedup == "keep-newest" and ts_col not in stream.columns:
        raise ValueError(
            f"keep-newest dedup needs a {ts_col!r} column on the stream "
            "(crawl formats mint fetched_at from WARC-Date; parquet "
            "sources must carry it)"
        )
    c = _Curation(
        spark, corpus_path, index_path, min_tokens, min_ttr, min_agree,
        compact_every, bucket_index_table, n_index_buckets, stats, postings,
        paragraphs, dedup == "keep-newest", ts_col,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        caches: list[DataFrame] = []
        try:
            rows, gated = _gate(c, batch, batch_id, caches)
            # replay safety: every probe excludes the batch's own ids —
            # the gated set, a superset of everything a previous attempt
            # of this batch can have written to any index; by id, not by
            # partition, so it also covers rows a compaction folded
            own_ids = _id_frame(spark, [r["doc_id"] for r in rows if r["_gated"]])
            d = (
                _exact_decision(c, rows, own_ids, batch_id)
                if c.keep_newest
                else _Decision()
            )
            sigs_all, probe_rows = _signatures(c, gated, d, caches)
            _near_dup_decision(c, d, probe_rows, *_sig_probe(c, own_ids))
            # the decision collects materialized the cached signatures
            # before the index append below rewrites what the probe read;
            # the appends write disjoint tables, so they run concurrently,
            # and every future is read so a failed append fails the batch
            with ThreadPoolExecutor(max_workers=4) as pool:
                appends, admitted, admit = _write_admitted(
                    c, pool, batch_id, gated, sigs_all, d
                )
                if c.stats:
                    appends.append(submit(
                        pool, spark, _write_stats, c, batch_id, rows,
                        len(d.admit_ids()),
                    ))
                if c.postings:
                    post, dlen = postings_delta(admitted)
                    _write_batch_partition(post, c.corpus_path + POSTINGS_SUFFIX, batch_id)
                    _write_batch_partition(dlen, c.corpus_path + DOCLENS_SUFFIX, batch_id)
                if c.paragraphs:
                    _paragraphs(c, batch_id, admitted, admit, d, caches)
                for f in appends:
                    f.result()
            if c.compact_every and (batch_id + 1) % c.compact_every == 0:
                _compact(c, batch_id)
        finally:
            for df in caches:
                df.unpersist()

    (
        stream
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", corpus_path + "_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def forget_documents(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    doc_ids: list[int],
    bucket_index_table: str | None = None,
    expand_chains: bool = True,
) -> dict:
    """Right-to-be-forgotten deletion for the curated corpus: remove
    the given documents from BOTH the corpus table and the signature
    index in one copy-on-write rewrite each, and report what changed.

    Removing the index rows matters as much as the corpus rows: the
    index is what future ingests dedup against, so a forgotten
    document's content becomes ADMISSIBLE again if it is ever
    legitimately resubmitted (tested) — forgetting must not leave a
    ghost that silently rejects future data.  Keep-newest corpora: the
    ``_digests`` table is covered like the other derived tables, and
    because forgetting a superseding copy ALONE would resurrect its
    predecessor (the ``supersedes`` marker disappears with the row,
    leaving the same — or near-same — bytes served under the old id),
    ``expand_chains`` (default ON) grows the given ids to their FULL
    supersession chains before anything is rewritten
    (:func:`_supersession_chains`).  Keep-first corpora have no digests
    table and skip the expansion; pass ``expand_chains=False`` to erase
    exactly the named rows.  Bounded structures built from past data
    (Bloom bitmaps, CMS sketches) cannot forget individual items by
    construction; rebuild them from the rewritten corpus when
    bit-level erasure of those is required.

    Scale shape: each rewrite is one anti-join against a broadcast id
    set and an atomic swap — at 100 TB you would partition the corpus
    so the rewrite touches only affected partitions (or use a
    deletion-vector table format); the operator's join shape is the
    same either way.  The swap (temp write + directory rename,
    sources/atomic.py) means a crash mid-rewrite can never lose the
    table: either the old content or the complete new content is
    live, and the deletion is simply re-run.

    ``bucket_index_table``: a derived bucketed probe snapshot still
    names the forgotten docs — DROP it (and its covered-batch meta)
    so the next ingest falls back to the parquet index until the next
    compaction rebuilds it; filtering the snapshot in place would
    race an in-flight rebuild for no benefit, since the table is a
    cache of the (now rewritten) index, not a source of truth.  When
    the caller does NOT pass it, the ``<index_path>_bucketmeta`` file
    is consulted: if it names a live table version, the base table
    name is derived from it and swept anyway — an RTBF run that forgot
    the flag must not leave content-derived signature buckets on
    disk."""
    if bucket_index_table is None:
        live = live_bucket_version(spark, index_path + BUCKETMETA_SUFFIX)
        if live is not None:
            bucket_index_table = _versioned_table(live)
    if expand_chains:
        doc_ids = _supersession_chains(spark, corpus_path, doc_ids)

    ids = local_relation(spark, [(i,) for i in doc_ids], "doc_id long")
    # the report names the ids actually erased (post-expansion), so an
    # operator can audit what a chain-expanded RTBF touched
    out = {"doc_ids": sorted(doc_ids)}
    # derived retrieval tables (postings/doclens) name the forgotten
    # docs too — rewrite them whenever they exist
    derived = [
        corpus_path + sfx
        for sfx in (
            POSTINGS_SUFFIX, DOCLENS_SUFFIX, SEGINDEX_SUFFIX, CLEAN_SUFFIX,
            DIGESTS_SUFFIX,
        )
        if os.path.isdir(corpus_path + sfx)
        or os.path.isfile(corpus_path + sfx + ".__manifest__")
    ]
    for path in (corpus_path, index_path, *derived):
        before = read_parquet_recovering(spark, path)
        if before is None:  # never written, or empty-so-far
            out[path] = {"n_before": 0, "n_after": 0}
            continue
        kept = before.join(F.broadcast(ids), "doc_id", "left_anti")
        n_before = before.count()
        # preserve the ingest_batch partition layout the streaming
        # writer uses — a flat rewrite would break partition discovery
        # for subsequent partitioned appends
        parts = ["ingest_batch"] if "ingest_batch" in before.columns else None
        atomic_replace(kept, path, partition_by=parts)
        after = read_parquet_recovering(spark, path)
        out[path] = {
            "n_before": n_before,
            "n_after": 0 if after is None else after.count(),
        }
    if bucket_index_table:
        _sweep_bucket_table(spark, bucket_index_table, index_path + BUCKETMETA_SUFFIX)
    # the derived SEGMENT bucket table (incremental paragraph dedup)
    # attributes content-derived hashes to doc_ids too — same RTBF
    # obligation, swept via its own meta (its name derives from the
    # sig table's, but a meta-named version is authoritative even if
    # the caller's flag disagrees with the deployment that wrote it)
    seg_meta = corpus_path + SEGINDEX_SUFFIX + BUCKETMETA_SUFFIX
    seg_live = live_bucket_version(spark, seg_meta)
    if seg_live is not None:
        _sweep_bucket_table(spark, _versioned_table(seg_live), seg_meta)
    elif bucket_index_table:
        _sweep_bucket_table(spark, bucket_index_table + SEG_TABLE_SUFFIX, seg_meta)
    return out


def _versioned_table(live) -> str:
    """The base table name of a live bucket-table version
    (``<table>__v<batch>_a<attempt>``)."""
    return live["table_version"].split("__v")[0]


def _supersession_chains(
    spark: SparkSession, corpus_path: str, doc_ids: list[int]
) -> list[int]:
    """``doc_ids`` grown to their FULL supersession chains: a driver
    fixpoint over the digests table's edges — same-digest members
    (exact chains) plus ``supersedes`` links walked in both directions
    (near-dup chains) — each step a broadcast semi-probe of the narrow
    table, iterations bounded by the chain diameter.  Unchanged when
    there is no digests table (keep-first)."""
    dig = read_parquet_recovering(spark, corpus_path + DIGESTS_SUFFIX)
    if dig is None:
        return doc_ids
    known = set(doc_ids)
    frontier = set(doc_ids)
    while frontier:
        ids = _id_frame(spark, frontier)
        on_frontier = dig.join(ids, "doc_id", "semi")
        # exact chains: every doc sharing a frontier doc's digest
        digests = F.broadcast(on_frontier.select("digest").distinct())
        found = (
            dig.join(digests, "digest", "semi")
            .select("doc_id")
            # near-dup chains: supersedes edges, both directions
            .unionByName(
                on_frontier.filter(F.col("supersedes").isNotNull()).select(
                    F.col("supersedes").alias("doc_id")
                )
            )
            .unionByName(
                dig.join(_id_frame(spark, frontier, "supersedes"), "supersedes", "semi")
                .select("doc_id")
            )
        )
        frontier = {r.doc_id for r in found.distinct().collect()} - known
        known |= frontier
    return sorted(known)


def _sweep_bucket_table(spark: SparkSession, base: str, meta_path: str) -> None:
    """DROP a derived bucket table — live name, every version, orphan
    warehouse attempt directories — and its manifest meta.  Shared by
    forget_documents for the signature and segment probe tables."""
    base = base.lower()  # catalog names are lowercased
    spark.sql(f"DROP TABLE IF EXISTS {base}")
    shutil.rmtree(os.path.join(warehouse_dir(spark), base), ignore_errors=True)
    drop_bucket_versions(spark, base)
    shutil.rmtree(meta_path, ignore_errors=True)


def vacuum_tables(spark: SparkSession, corpus_path: str, index_path: str) -> dict:
    """Housekeeping for an ingest deployment: heal any interrupted
    atomic swap on every engine-managed table under the prefix
    (sources/atomic.recover — roll forward/back, idempotent) and GC
    bucket-table versions and warehouse attempt directories the
    manifests no longer name.  The streaming loop performs the same GC
    inline at each rebuild; vacuum covers the windows BETWEEN rebuilds
    (a crash right after a version write but before its GC, an
    operator who stopped ingesting).  Live versions are never touched:
    a version is collectable only if the meta exists and names a
    DIFFERENT version — with no readable meta nothing is dropped,
    because the next rebuild's own GC owns that state.  The meta names
    each bucket table, so no table name is passed in."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import recover

    sig_meta = index_path + BUCKETMETA_SUFFIX
    seg_meta = corpus_path + SEGINDEX_SUFFIX + BUCKETMETA_SUFFIX
    healed = [
        corpus_path,
        index_path,
        sig_meta,
        *(
            corpus_path + sfx
            for sfx in (
                POSTINGS_SUFFIX, DOCLENS_SUFFIX, SEGINDEX_SUFFIX, CLEAN_SUFFIX,
                "_stats",
            )
        ),
        seg_meta,
    ]
    for path in healed:
        recover(path)
    dropped: list[str] = []
    for meta_path in (sig_meta, seg_meta):
        live = live_bucket_version(spark, meta_path)
        if live is not None:  # no named live version -> nothing is provably orphaned
            dropped += drop_bucket_versions(
                spark, _versioned_table(live), keep=live["table_version"]
            )
    return {"healed": healed, "dropped": sorted(set(dropped))}
