"""Streaming curation over the documents table: each micro-batch
converges to the batch funnel's answer, exactly once under replay."""

from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string"


def _long_text(seed: str) -> str:
    """30 distinct tokens: clears the curation defaults
    (min_tokens=24, ttr=0.35) — the ONE definition every streaming
    micro-batch test builds admissible documents from."""
    return " ".join(f"{seed}{i}" for i in range(30))


def _drop_batch_file(spark, tmp_path, src, name, rows):
    """Land `rows` as a single flat parquet file in `src` — one
    micro-batch for the maxFilesPerTrigger=1 file source (file order
    follows name order)."""
    import glob as _glob
    import shutil as _shutil

    ds = tmp_path / f"_{src.name}_{name}_ds"
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.parquet(str(ds))
    part = _glob.glob(str(ds / "part-*.parquet"))[0]
    _shutil.copy(part, str(src / f"{name}.parquet"))


def test_normalize_ts_unifies_all_three_parquet_encodings(spark, tmp_path):
    """The driver's events fixture has shipped ts as TIMESTAMP(NANOS),
    as timestamp[us] without isAdjustedToUTC (read as TIMESTAMP_NTZ),
    and as UTC-adjusted micros — r2's correctness run broke on the NTZ
    flavor.  normalize_ts must yield identical TIMESTAMP values (and
    working epoch math) for all three."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.tables import normalize_ts

    base = [
        datetime.datetime(2026, 1, 1, 0, 0, 0),
        datetime.datetime(2026, 1, 1, 12, 34, 56, 789000),
        datetime.datetime(2026, 6, 30, 23, 59, 59, 999999),
    ]
    ids = list(range(len(base)))
    paths = {}
    for name, typ in (
        ("ntz_us", pa.timestamp("us")),
        ("utc_us", pa.timestamp("us", tz="UTC")),
        ("nanos", pa.timestamp("ns")),
    ):
        table = pa.table({"event_id": pa.array(ids, pa.int64()),
                          "ts": pa.array(base, typ)})
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, p, store_schema=False)
        paths[name] = p

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    results = {}
    for name, p in paths.items():
        df = normalize_ts(spark.read.parquet(p))
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        rows = df.select(
            "event_id", "ts", F.expr("unix_micros(ts)").alias("us")
        ).orderBy("event_id").collect()
        results[name] = [(r.event_id, r.ts, r.us) for r in rows]
    assert results["ntz_us"] == results["utc_us"] == results["nanos"]


def test_streaming_curation_matches_sequential_batch_application(spark, tmp_path):
    """Continuous-ingest curation: two micro-batches through the
    quality gate + incremental-dedup index.  The streamed corpus must
    equal applying the same gate+dedup sequentially in batch mode,
    carry no duplicate content, and index rows must mirror corpus
    rows (restart-safe exactly-once by index probe)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        N_HASHES,
        minhash_signatures,
        near_dup_probe,
        shingle_hashes,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        _gate_flag,
        run_streaming_curation,
    )

    long_text = _long_text

    batch_a = [
        (1, long_text("a")),
        (2, long_text("b")),
        (3, "too short"),                       # fails quality gate
        (4, long_text("a")),                    # intra-batch dup of 1
    ]
    batch_b = [
        (101, long_text("a")),                  # dup of indexed 1
        (102, long_text("c")),                  # fresh
        (103, " ".join(["rep"] * 40)),          # fails ttr gate
        (104, long_text("c")),                  # intra-batch dup of 102
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, text string"
    # two flat files -> two micro-batches (maxFilesPerTrigger=1); file
    # order follows name order for the file source's deterministic
    # listing.  Write each batch as a dataset dir, then promote its
    # single part-file to a flat file the stream source can list.
    import glob
    import shutil

    for name, rows in (("batch_a", batch_a), ("batch_b", batch_b)):
        ds = tmp_path / f"_{name}_ds"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(ds))
        part = glob.glob(str(ds / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "sig_index")
    run_streaming_curation(spark, str(src), corpus_path, index_path)

    corpus = spark.read.parquet(corpus_path)
    got_ids = {r.doc_id for r in corpus.select("doc_id").collect()}

    # sequential batch-mode application of the same funnel
    expect_ids: set[int] = set()
    index = None
    for rows in (batch_a, batch_b):
        df = _gate_flag(spark.createDataFrame(rows, schema), 24, 0.35).filter("_gated")
        sigs = minhash_signatures(shingle_hashes(df))
        batch = [
            tuple(r)
            for r in sigs.select("doc_id", *[f"h{k}" for k in range(N_HASHES)]).collect()
        ]
        dropped = {doc for doc, *_ in near_dup_probe(spark, batch, index)}
        kept = sigs.filter(~F.col("doc_id").isin(list(dropped)))
        index = kept if index is None else index.unionByName(kept)
        expect_ids |= {r[0] for r in batch} - dropped

    assert got_ids == expect_ids == {1, 2, 102}
    # no duplicate content in the curated corpus
    texts = [r.text for r in corpus.collect()]
    assert len(texts) == len(set(texts))
    # index mirrors the corpus
    idx_ids = {r.doc_id for r in spark.read.parquet(index_path).collect()}
    assert idx_ids == got_ids


def test_streaming_curation_restart_processes_only_new_files(spark, tmp_path):
    """Restart semantics: after a completed availableNow drain, a new
    run with the SAME checkpoint picks up only files that arrived
    since — already-ingested content is neither re-read (checkpoint)
    nor re-admitted (index probe), so an at-least-once source keeps
    yielding an exactly-once corpus across process restarts."""
    import glob
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    long_text = _long_text

    schema = "doc_id long, text string"
    src = tmp_path / "restart_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    corpus_path = str(tmp_path / "restart_corpus")
    index_path = str(tmp_path / "restart_index")

    drop_file("batch_a", [(1, long_text("a")), (2, long_text("b"))])
    run_streaming_curation(spark, str(src), corpus_path, index_path)
    assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {1, 2}

    # second run, same checkpoint: one new file, one replayed dup of 1
    drop_file("batch_b", [(10, long_text("c")), (11, long_text("a"))])
    run_streaming_curation(spark, str(src), corpus_path, index_path)
    corpus = spark.read.parquet(corpus_path)
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 10}
    # exactly one copy of every content hash, even after the restart
    texts = [r.text for r in corpus.collect()]
    assert len(texts) == len(set(texts))
    idx = {r.doc_id for r in spark.read.parquet(index_path).collect()}
    assert idx == {1, 2, 10}


def test_forget_documents_erases_and_readmits(spark, tmp_path):
    """Right-to-be-forgotten: the forgotten doc leaves BOTH the corpus
    and the signature index, and — because the index row is gone — the
    same content resubmitted later is ADMITTED again rather than
    silently rejected by a ghost signature."""
    import glob
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )

    long_text = _long_text

    schema = "doc_id long, text string"
    src = tmp_path / "forget_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    corpus_path = str(tmp_path / "forget_corpus")
    index_path = str(tmp_path / "forget_index")

    drop_file("batch_a", [(1, long_text("a")), (2, long_text("b"))])
    run_streaming_curation(spark, str(src), corpus_path, index_path)

    report = forget_documents(spark, corpus_path, index_path, [1])
    assert report[corpus_path] == {"n_before": 2, "n_after": 1}
    assert report[index_path] == {"n_before": 2, "n_after": 1}
    assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {2}

    # the same CONTENT resubmitted under a new id must be admitted
    drop_file("batch_b", [(50, long_text("a"))])
    run_streaming_curation(spark, str(src), corpus_path, index_path)
    assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {2, 50}


import pytest


@pytest.mark.parametrize("atomic_mode", ["rename", "manifest"])
def test_curation_compaction_bounds_index_files_and_stays_exactly_once(
    spark, tmp_path, monkeypatch, atomic_mode
):
    """compact_every folds per-batch index partitions into one base
    partition: after 4 micro-batches with compact_every=2, the index
    holds only the base (-1) and the final batch's partition, its
    parquet file count is bounded, and a crash-replay of the final
    batch (checkpoint commit deleted) converges without duplicating or
    losing anything.  Runs under BOTH atomic protocols (VERDICT r6
    #8): rename mode and the object-store-safe manifest-pointer mode,
    so the crash-replay soak exercises the rename-free path
    end-to-end, not just the unit drills in test_atomic."""
    import glob
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import (
        read_parquet_recovering,
        resolve_table_dir,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    if atomic_mode == "manifest":
        monkeypatch.setenv("SPARK_GRAFT_ATOMIC_MODE", "manifest")
    else:
        monkeypatch.delenv("SPARK_GRAFT_ATOMIC_MODE", raising=False)

    long_text = _long_text
    src = tmp_path / "compact_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    drop_file("b0", [(1, long_text("a")), (2, long_text("b"))])
    drop_file("b1", [(11, long_text("c")), (12, long_text("a"))])  # 12 dups 1
    drop_file("b2", [(21, long_text("d"))])
    drop_file("b3", [(31, long_text("e")), (32, long_text("c"))])  # 32 dups 11

    corpus_path = str(tmp_path / "compact_corpus")
    index_path = str(tmp_path / "compact_index")
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, compact_every=2
    )

    expect = {1, 2, 11, 21, 31}
    read = lambda p: read_parquet_recovering(spark, p)  # noqa: E731 — mode-aware
    assert {r.doc_id for r in read(corpus_path).collect()} == expect
    idx = read(index_path)
    assert {r.doc_id for r in idx.collect()} == expect
    # compaction ran after batches 1 and 3: everything except batch
    # 3's partition lives in the base partition
    assert {r.ingest_batch for r in idx.select("ingest_batch").distinct().collect()} == {
        -1,
        3,
    }
    live_index_dir = resolve_table_dir(index_path, initialize=False)
    data_files = glob.glob(
        os.path.join(live_index_dir, "**", "*.parquet"), recursive=True
    )
    assert len(data_files) <= 2, data_files
    if atomic_mode == "manifest":
        # the table must live behind the pointer, never at the bare path
        assert os.path.isfile(index_path + ".__manifest__")
        assert not os.path.isdir(index_path)

    # crash-replay of the final batch: drop its checkpoint commit so
    # the restarted drain re-delivers batch 3 (at-least-once), which
    # must rewrite its partitions idempotently
    os.remove(os.path.join(corpus_path + "_ckpt", "commits", "3"))
    crc = os.path.join(corpus_path + "_ckpt", "commits", ".3.crc")
    if os.path.exists(crc):
        os.remove(crc)  # local ChecksumFs refuses the re-commit otherwise
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, compact_every=2
    )
    corpus = read(corpus_path)
    assert {r.doc_id for r in corpus.collect()} == expect
    texts = [r.text for r in corpus.collect()]
    assert len(texts) == len(set(texts))
    assert {r.doc_id for r in read(index_path).collect()} == expect


def test_compact_index_residue_winner_is_deterministic(spark, tmp_path):
    """If replay residue ever leaves two doc attributions for one
    seg_hash, the fold must keep a DETERMINISTIC winner — min over the
    remaining columns — not dropDuplicates' arbitrary row, or an RTBF
    on the true owner could leave the content-derived hash attributed
    to another doc (ADVICE r6).  Both attribution orders converge on
    the same survivor."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import compact_index

    for name, batches in (("fwd", [(7, 0), (3, 1)]), ("rev", [(3, 0), (7, 1)])):
        path = str(tmp_path / f"seg_residue_{name}")
        for doc_id, b in batches:
            spark.createDataFrame(
                [(100, doc_id, b)], "seg_hash long, doc_id long, ingest_batch int"
            ).write.mode("append").partitionBy("ingest_batch").parquet(path)
        compact_index(spark, path, keep_batch=99, dedup_keys=("seg_hash",))
        got = spark.read.parquet(path).collect()
        assert len(got) == 1, got
        assert (got[0].seg_hash, got[0].doc_id, got[0].ingest_batch) == (100, 3, -1)


def test_bucketed_sig_index_probe_has_no_exchange_on_index_side(spark, tmp_path):
    """The signature index's bucket relation persisted as a catalog
    table bucketed by the banded join key is probed like the plain
    index: a broadcast join of the batch's band keys, so neither
    probe's plan carries a shuffle Exchange, and the verdicts are
    identical to the on-the-fly explode path."""
    import re

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        N_HASHES,
        _index_hits,
        minhash_signatures,
        near_dup_probe,
        shingle_hashes,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import build_bucketed_sig_index

    long_text = _long_text

    schema = "doc_id long, text string"
    indexed = spark.createDataFrame(
        [(i, long_text(f"s{i}")) for i in range(40)], schema
    )
    sigs = minhash_signatures(shingle_hashes(indexed))
    index_path = str(tmp_path / "bucketed_sig_index")
    sigs.write.parquet(index_path)
    build_bucketed_sig_index(spark, index_path, "sig_buckets_b", n_buckets=4)

    batch = spark.createDataFrame(
        [(100, long_text("s3")), (101, long_text("fresh"))], schema
    )
    cols = ["doc_id"] + [f"h{k}" for k in range(N_HASHES)]
    batch_sigs = [tuple(r) for r in minhash_signatures(shingle_hashes(batch)).select(*cols).collect()]
    index_sigs = spark.read.parquet(index_path)
    # the table covers the whole index: its parquet tail is empty
    bucketed = (spark.table("sig_buckets_b"), index_sigs.filter(F.lit(False)))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hits_b = near_dup_probe(spark, batch_sigs, index_sigs, bucketed=bucketed)
        hits_p = near_dup_probe(spark, batch_sigs, index_sigs)
        assert hits_b == hits_p == {(100, 3, N_HASHES, False)}
        probe = {r[0]: r[1:] for r in batch_sigs}
        for b in (bucketed, None):
            plan = _index_hits(spark, probe, index_sigs, 6, b)._jdf.queryExecution()
            plan = plan.executedPlan().toString()
            assert not re.search(r"(?<!Broadcast)Exchange ", plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS sig_buckets_b")


def test_curation_with_bucketed_probe_table_matches_plain_run(spark, tmp_path):
    """The bucketed probe table is a pure physical-strategy cache: the
    same 4-batch ingest with bucket_index_table set must produce the
    identical corpus and index, maintain the covered-batch meta, keep
    exactly-once under a crash-replay of the final batch, and — after
    forget_documents drops the table — readmit forgotten content via
    the parquet fallback."""
    import glob
    import os
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )

    long_text = _long_text

    schema = "doc_id long, text string"

    def drop_file(src, name, rows):
        ds = tmp_path / f"_{src.name}_{name}_ds"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(ds))
        part = glob.glob(str(ds / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    batches = [
        ("b0", [(1, long_text("a")), (2, long_text("b"))]),
        ("b1", [(11, long_text("c")), (12, long_text("a"))]),   # 12 dups 1
        ("b2", [(21, long_text("d"))]),
        ("b3", [(31, long_text("e")), (32, long_text("c"))]),   # 32 dups 11
    ]
    src_b = tmp_path / "bkt_incoming"
    src_p = tmp_path / "plain_incoming"
    src_b.mkdir()
    src_p.mkdir()
    for name, rows in batches:
        drop_file(src_b, name, rows)
        drop_file(src_p, name, rows)

    corpus_b = str(tmp_path / "bkt_corpus")
    index_b = str(tmp_path / "bkt_index")
    corpus_p = str(tmp_path / "plain_corpus")
    index_p = str(tmp_path / "plain_index")
    try:
        run_streaming_curation(
            spark, str(src_b), corpus_b, index_b,
            compact_every=2, bucket_index_table="bkt_probe_t", n_index_buckets=4,
        )
        run_streaming_curation(spark, str(src_p), corpus_p, index_p)

        expect = {1, 2, 11, 21, 31}
        ids_b = {r.doc_id for r in spark.read.parquet(corpus_b).collect()}
        ids_p = {r.doc_id for r in spark.read.parquet(corpus_p).collect()}
        assert ids_b == ids_p == expect
        assert {r.doc_id for r in spark.read.parquet(index_b).collect()} == expect
        meta = spark.read.parquet(index_b + "_bucketmeta").collect()
        assert [r.covered_batch for r in meta] == [3]
        # manifest-pointer protocol: the meta names the live version
        # (unique per rebuild ATTEMPT), which must exist; superseded
        # versions were dropped
        assert meta[0].table_version.startswith("bkt_probe_t__v3_a")
        assert spark.catalog.tableExists(meta[0].table_version)
        assert not any(
            t.name.startswith("bkt_probe_t__v1_")
            for t in spark.catalog.listTables()
        )

        # crash-replay of the final batch under the bucketed probe: the
        # rebuilt table already contains batch 3's rows — the own-id
        # exclusion must keep the rewritten partitions identical
        os.remove(os.path.join(corpus_b + "_ckpt", "commits", "3"))
        crc = os.path.join(corpus_b + "_ckpt", "commits", ".3.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run_streaming_curation(
            spark, str(src_b), corpus_b, index_b,
            compact_every=2, bucket_index_table="bkt_probe_t", n_index_buckets=4,
        )
        corpus = spark.read.parquet(corpus_b)
        assert {r.doc_id for r in corpus.collect()} == expect
        texts = [r.text for r in corpus.collect()]
        assert len(texts) == len(set(texts))

        # RTBF with the bucket table: drop + fallback + readmission
        forget_documents(spark, corpus_b, index_b, [1], bucket_index_table="bkt_probe_t")
        assert not any(
            t.name.startswith("bkt_probe_t") for t in spark.catalog.listTables()
        )
        assert not os.path.isdir(index_b + "_bucketmeta")
        drop_file(src_b, "b4", [(50, long_text("a"))])  # forgotten content, new id
        run_streaming_curation(
            spark, str(src_b), corpus_b, index_b,
            compact_every=2, bucket_index_table="bkt_probe_t", n_index_buckets=4,
        )
        assert {r.doc_id for r in spark.read.parquet(corpus_b).collect()} == {
            2, 11, 21, 31, 50,
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_probe_t")
        for t in spark.catalog.listTables():
            if t.name.startswith("bkt_probe_t__v"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_curation_survives_an_all_rejected_first_batch(spark, tmp_path):
    """Regression (r5 review): a micro-batch where EVERY document
    fails the quality gate writes an empty (file-less) partition dir;
    the next batch's index/corpus reads must treat it as
    absent-so-far, not raise UNABLE_TO_INFER_SCHEMA and wedge the
    stream permanently."""
    import glob
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    long_text = _long_text

    schema = "doc_id long, text string"
    src = tmp_path / "empty_first_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    drop_file("b0", [(1, "too short"), (2, " ".join(["rep"] * 40))])  # all fail
    drop_file("b1", [(10, long_text("a"))])

    corpus_path = str(tmp_path / "ef_corpus")
    index_path = str(tmp_path / "ef_index")
    run_streaming_curation(spark, str(src), corpus_path, index_path)
    assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {10}
    assert {r.doc_id for r in spark.read.parquet(index_path).collect()} == {10}


def test_corpus_asof_reads_each_ingest_watermark(spark, tmp_path):
    """Time-travel over the partitioned corpus: read_corpus_asof(b)
    returns exactly the documents admitted by micro-batches <= b (a
    partition-pruned filter, no snapshot log), and corpus_versions
    lists the committed watermarks."""
    import glob
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        corpus_versions,
        read_corpus_asof,
        run_streaming_curation,
    )

    long_text = _long_text

    schema = "doc_id long, text string"
    src = tmp_path / "asof_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    drop_file("b0", [(1, long_text("a"))])
    drop_file("b1", [(11, long_text("b")), (12, long_text("a"))])  # 12 dups 1
    drop_file("b2", [(21, long_text("c"))])

    corpus_path = str(tmp_path / "asof_corpus")
    index_path = str(tmp_path / "asof_index")
    assert read_corpus_asof(spark, corpus_path, 0) is None
    assert corpus_versions(spark, corpus_path) == []
    run_streaming_curation(spark, str(src), corpus_path, index_path)

    assert corpus_versions(spark, corpus_path) == [0, 1, 2]
    def ids(b):
        return {r.doc_id for r in read_corpus_asof(spark, corpus_path, b).collect()}
    assert ids(0) == {1}
    assert ids(1) == {1, 11}
    assert ids(2) == {1, 11, 21}


def test_bucketed_compaction_survives_all_rejected_batches(spark, tmp_path):
    """Regression (r5 second review): with compact_every=1 and the
    bucketed probe table enabled, an all-rejected first batch leaves
    an empty-so-far index — the rebuild must SKIP (return None), not
    raise inside foreachBatch and wedge the stream; later batches
    then build the table normally."""
    import glob
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        build_bucketed_sig_index,
        run_streaming_curation,
    )

    long_text = _long_text

    schema = "doc_id long, text string"
    src = tmp_path / "bkt_empty_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    drop_file("b0", [(1, "too short")])          # all rejected
    drop_file("b1", [(10, long_text("a"))])

    corpus_path = str(tmp_path / "be_corpus")
    index_path = str(tmp_path / "be_index")
    try:
        # standalone: empty index -> None, no exception
        assert build_bucketed_sig_index(spark, index_path, "be_probe_t") is None
        run_streaming_curation(
            spark, str(src), corpus_path, index_path,
            compact_every=1, bucket_index_table="be_probe_t",
        )
        assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {10}
        meta = spark.read.parquet(index_path + "_bucketmeta").collect()
        assert spark.catalog.tableExists(meta[0].table_version)
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("be_probe_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_curation_stats_record_the_per_batch_funnel(spark, tmp_path):
    """stats=True: one (n_arrived, n_gated, n_kept) row per
    micro-batch in <corpus_path>_stats, accounting for every arriving
    document (gate rejections and dedup drops included)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    src = tmp_path / "stats_incoming"
    src.mkdir()
    _drop_batch_file(
        spark, tmp_path, src, "b0",
        [(1, _long_text("a")), (2, "too short"), (3, _long_text("b"))],
    )
    _drop_batch_file(
        spark, tmp_path, src, "b1",
        [(11, _long_text("a")), (12, _long_text("c"))],  # 11 dups 1
    )

    corpus_path = str(tmp_path / "stats_corpus")
    index_path = str(tmp_path / "stats_index")
    run_streaming_curation(spark, str(src), corpus_path, index_path, stats=True)

    stats = {
        r.ingest_batch: (r.n_arrived, r.n_gated, r.n_kept)
        for r in spark.read.parquet(corpus_path + "_stats").collect()
    }
    assert stats == {0: (3, 2, 2), 1: (2, 2, 1)}
    assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {1, 3, 12}


def test_streaming_soak_all_features_interact_consistently(spark, tmp_path):
    """Capstone integration: ten micro-batches through the full
    feature set at once — compaction every 3 batches, the versioned
    bucketed probe table, per-batch stats — then a right-to-be-
    forgotten deletion, then MORE ingest on the same checkpoint
    (including resubmission of forgotten content and fresh
    duplicates).  Asserts global invariants the focused tests check
    only pairwise: corpus/index mirror each other, content is unique,
    stats account for every batch, the probe table matches the meta,
    and time-travel reads stay truthful."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        corpus_versions,
        forget_documents,
        read_corpus_asof,
        run_streaming_curation,
    )

    src = tmp_path / "soak_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "soak_corpus")
    index_path = str(tmp_path / "soak_index")
    kw = dict(compact_every=3, bucket_index_table="soak_probe_t", stats=True)

    try:
        # batches 0-9: every 3rd doc is a duplicate of an earlier one
        expect = set()
        for b in range(10):
            fresh = 10 * b + 1
            rows = [(fresh, _long_text(f"s{b}"))]
            expect.add(fresh)
            if b % 3 == 2:  # duplicate of batch b-2's fresh doc
                rows.append((10 * b + 2, _long_text(f"s{b - 2}")))
            _drop_batch_file(spark, tmp_path, src, f"b{b:02d}", rows)
        run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)

        corpus = spark.read.parquet(corpus_path)
        assert {r.doc_id for r in corpus.collect()} == expect
        texts = [r.text for r in corpus.collect()]
        assert len(texts) == len(set(texts))
        idx_ids = {r.doc_id for r in spark.read.parquet(index_path).collect()}
        assert idx_ids == expect
        stats = spark.read.parquet(corpus_path + "_stats")
        assert stats.count() == 10
        assert stats.agg(F.sum("n_kept")).first()[0] == len(expect)
        meta = spark.read.parquet(index_path + "_bucketmeta").first()
        assert spark.catalog.tableExists(meta.table_version)
        # time-travel: watermark 4 holds exactly batches 0-4's keeps
        assert {r.doc_id for r in read_corpus_asof(spark, corpus_path, 4).collect()} == {
            1, 11, 21, 31, 41,
        }
        assert corpus_versions(spark, corpus_path) == list(range(10))

        # forget one early doc, then resubmit its content + a dup
        forget_documents(
            spark, corpus_path, index_path, [21], bucket_index_table="soak_probe_t"
        )
        expect.discard(21)
        _drop_batch_file(
            spark, tmp_path, src, "b10",
            [(201, _long_text("s2")), (202, _long_text("s5"))],  # 202 dups 51
        )
        run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
        expect.add(201)  # forgotten content readmitted under a new id

        corpus = spark.read.parquet(corpus_path)
        assert {r.doc_id for r in corpus.collect()} == expect
        texts = [r.text for r in corpus.collect()]
        assert len(texts) == len(set(texts))
        assert {r.doc_id for r in spark.read.parquet(index_path).collect()} == expect
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("soak_probe_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_bucket_table_reregisters_after_catalog_loss(spark, tmp_path, monkeypatch):
    """Fresh-session simulation: the in-memory catalog forgets the
    bucketed probe tables (signature buckets and, with paragraphs, the
    segment index) between processes while their warehouse directories
    survive.  The next batch must RE-REGISTER each from its meta's
    recorded bucket spec (external table over the surviving files)
    instead of silently falling back to the parquet rows — and keep
    deduping correctly."""
    import os
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.sources import bucketing
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    src = tmp_path / "rereg_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "rereg_corpus")
    index_path = str(tmp_path / "rereg_index")
    kw = dict(
        compact_every=1, bucket_index_table="rereg_probe_t", n_index_buckets=4,
        paragraphs=True,
    )
    registered = []
    reregister = bucketing.reregister_bucket_table

    def spy(spark_, version, *args):
        lost = not spark_.catalog.tableExists(version)
        ok = reregister(spark_, version, *args)
        if lost and ok:
            registered.append(version)
        return ok

    monkeypatch.setattr(bucketing, "reregister_bucket_table", spy)
    quote = " ".join(_long_text("a").split()[:5])  # doc 1's first segment

    try:
        _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a"))])
        run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
        versions = [
            spark.read.parquet(meta + "_bucketmeta").first().table_version
            for meta in (index_path, corpus_path + "_segindex")
        ]
        # simulate a process restart: catalog entries gone, files intact
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for version in versions:
            assert spark.catalog.tableExists(version)
            loc = os.path.join(warehouse, version)
            shutil.copytree(loc, loc + ".save")
            spark.sql(f"DROP TABLE {version}")  # managed drop deletes the dir
            os.rename(loc + ".save", loc)
            assert not spark.catalog.tableExists(version)

        _drop_batch_file(
            spark, tmp_path, src, "b1",
            [
                (11, _long_text("a")),  # 11 dups 1
                (12, quote + " " + _long_text("b")),  # quotes 1's segment
            ],
        )
        run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
        # the probes re-registered both surviving versions mid-batch
        # (batch 1's own compaction then superseded them)
        assert sorted(registered) == sorted(versions)
        assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {1, 12}
        clean = {
            r.doc_id: r for r in spark.read.parquet(corpus_path + "_clean").collect()
        }
        assert clean[12].n_dup == 1 and quote not in clean[12].kept_text
        for meta in (index_path, corpus_path + "_segindex"):
            meta2 = spark.read.parquet(meta + "_bucketmeta").first()
            assert spark.catalog.tableExists(meta2.table_version)
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("rereg_probe_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_curation_in_manifest_atomic_mode(spark, tmp_path, monkeypatch):
    """The whole continuous-ingest loop under the object-store-safe
    manifest protocol (SPARK_GRAFT_ATOMIC_MODE=manifest): per-batch
    partition appends land inside the manifest-named live version,
    compaction mints a new version behind the pointer swap, as-of
    reads and RTBF work unchanged, and NO table ever lives at a bare
    path that a non-atomic rename would have to swap."""
    import os as _os

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import (
        read_parquet_recovering,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        corpus_versions,
        forget_documents,
        read_corpus_asof,
        run_streaming_curation,
    )

    monkeypatch.setenv("SPARK_GRAFT_ATOMIC_MODE", "manifest")

    src = tmp_path / "mani_incoming"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a"))])
    _drop_batch_file(
        spark, tmp_path, src, "b1",
        [(11, _long_text("b")), (12, _long_text("a"))],  # 12 dups 1
    )
    _drop_batch_file(spark, tmp_path, src, "b2", [(21, _long_text("c"))])

    corpus_path = str(tmp_path / "mani_corpus")
    index_path = str(tmp_path / "mani_index")
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, compact_every=2
    )

    corpus = read_parquet_recovering(spark, corpus_path)
    assert {r.doc_id for r in corpus.collect()} == {1, 11, 21}
    index = read_parquet_recovering(spark, index_path)
    assert {r.doc_id for r in index.collect()} == {1, 11, 21}
    # manifest layout: versioned dirs + manifest file, no bare table dir
    assert _os.path.isfile(corpus_path + ".__manifest__")
    assert _os.path.isfile(index_path + ".__manifest__")
    assert not _os.path.isdir(corpus_path)
    assert not _os.path.isdir(index_path)
    # compaction (batch 1) folded the index through atomic_replace in
    # manifest mode: exactly one live index version remains
    idx_versions = [
        d for d in _os.listdir(tmp_path) if d.startswith("mani_index.__v")
    ]
    assert len(idx_versions) == 1, idx_versions
    # the as-of axis still works (the corpus is never compacted)
    assert corpus_versions(spark, corpus_path) == [0, 1, 2]
    assert {r.doc_id for r in read_corpus_asof(spark, corpus_path, 1).collect()} == {1, 11}

    # RTBF: the rewrite is a manifest pointer swap, and the forgotten
    # content becomes admissible again
    report = forget_documents(spark, corpus_path, index_path, [11])
    assert report[corpus_path] == {"n_before": 3, "n_after": 2}
    _drop_batch_file(spark, tmp_path, src, "b3", [(31, _long_text("b"))])
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, compact_every=2
    )
    corpus = read_parquet_recovering(spark, corpus_path)
    assert {r.doc_id for r in corpus.collect()} == {1, 21, 31}


def test_forget_documents_autosweeps_bucket_table_from_meta(spark, tmp_path):
    """ADVICE r5: an RTBF run that omits bucket_index_table must not
    leave content-derived signature buckets on disk — forget_documents
    now derives the base table name from the recorded bucketmeta and
    sweeps it (catalog entries, warehouse dirs, and the meta)."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )

    src = tmp_path / "asweep_incoming"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a"))])
    _drop_batch_file(spark, tmp_path, src, "b1", [(11, _long_text("b"))])

    corpus_path = str(tmp_path / "asweep_corpus")
    index_path = str(tmp_path / "asweep_index")
    try:
        run_streaming_curation(
            spark, str(src), corpus_path, index_path,
            compact_every=1, bucket_index_table="asweep_probe_t",
            n_index_buckets=4,
        )
        meta = spark.read.parquet(index_path + "_bucketmeta").first()
        assert spark.catalog.tableExists(meta.table_version)

        # the flag is OMITTED — the sweep must happen anyway
        forget_documents(spark, corpus_path, index_path, [1])
        assert not any(
            t.name.startswith("asweep_probe_t")
            for t in spark.catalog.listTables()
        )
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        assert not any(
            d.startswith("asweep_probe_t") for d in os.listdir(warehouse)
        ), "warehouse dirs with forgotten content survived"
        assert not os.path.isdir(index_path + "_bucketmeta")
        assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {11}
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("asweep_probe_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_postings_index_and_bm25_search(spark, tmp_path):
    """Incremental retrieval tables: after draining the stream with
    postings=True, the accumulated postings/doclens tables must be
    ROW-IDENTICAL to tokenizing the final corpus from scratch (the
    streamed deltas lose and gain nothing), bm25_search_postings must
    rank from them deterministically, a crash-replay of the last
    batch must not double-count, and forget_documents must erase the
    forgotten doc's rows from both tables."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.retrieval import (
        DOCLENS_SUFFIX,
        POSTINGS_SUFFIX,
        bm25_search_postings,
        postings_delta,
    )

    src = tmp_path / "post_incoming"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("alpha"))])
    _drop_batch_file(
        spark, tmp_path, src, "b1",
        [(11, _long_text("beta") + " alpha0 alpha1"), (12, _long_text("alpha"))],  # 12 dups 1
    )
    _drop_batch_file(spark, tmp_path, src, "b2", [(21, "too short")])  # all rejected

    corpus_path = str(tmp_path / "post_corpus")
    index_path = str(tmp_path / "post_index")
    kw = dict(postings=True)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)

    corpus = spark.read.parquet(corpus_path)
    assert {r.doc_id for r in corpus.collect()} == {1, 11}

    def table_rows(path, cols):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).select(*cols).collect()
        )

    # streamed accumulation == single-shot tokenization of the corpus
    post_truth, dlen_truth = postings_delta(corpus.select("doc_id", "text"))
    assert table_rows(corpus_path + POSTINGS_SUFFIX, ["doc_id", "term", "tf"]) == sorted(
        tuple(r) for r in post_truth.collect()
    )
    assert table_rows(corpus_path + DOCLENS_SUFFIX, ["doc_id", "dl"]) == sorted(
        tuple(r) for r in dlen_truth.collect()
    )

    # ranked search: doc 11 contains both beta* and alpha0/alpha1 —
    # for the alpha query, doc 1 (pure alpha) must outrank doc 11
    res = bm25_search_postings(
        spark, corpus_path, [(0, "alpha0 alpha1"), (1, "beta0")], topk=3
    )
    rows = {(r.q_id, r.rank): r.doc_id for r in res.collect()}
    assert rows[(0, 1)] == 1 and rows[(0, 2)] == 11
    assert rows[(1, 1)] == 11 and (1, 2) not in rows

    # snippets=True surfaces the page title prior (null here — the
    # JSONL-shaped corpus carries none) and a text snippet, joined via
    # the broadcast winner-set filter, same ranking rows
    snip = bm25_search_postings(
        spark, corpus_path, [(1, "beta0")], topk=3, snippets=True,
        snippet_chars=12,
    ).collect()
    assert [(r.q_id, r.rank, r.doc_id) for r in snip] == [(1, 1, 11)]
    assert snip[0].title is None
    assert snip[0].snippet == _long_text("beta")[:12]

    # crash-replay of the last non-empty batch: remove its commit and
    # re-run — the partition rewrite must leave the tables identical
    before = table_rows(corpus_path + POSTINGS_SUFFIX, ["doc_id", "term", "tf"])
    os.remove(os.path.join(corpus_path + "_ckpt", "commits", "1"))
    crc = os.path.join(corpus_path + "_ckpt", "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
    assert table_rows(corpus_path + POSTINGS_SUFFIX, ["doc_id", "term", "tf"]) == before

    # RTBF reaches the retrieval tables
    forget_documents(spark, corpus_path, index_path, [11])
    left = {r.doc_id for r in spark.read.parquet(corpus_path + POSTINGS_SUFFIX).collect()}
    assert left == {1}
    assert {r.doc_id for r in spark.read.parquet(corpus_path + DOCLENS_SUFFIX).collect()} == {1}
    res = bm25_search_postings(spark, corpus_path, [(1, "beta0")], topk=3)
    assert res.count() == 0


def test_streaming_postings_compaction_bounds_files(spark, tmp_path):
    """compact_every with postings=True also folds the retrieval
    tables: after four batches at compact_every=2 the postings table
    must hold only the compacted base plus the in-flight tail
    partition, stay ROW-IDENTICAL to scratch tokenization of the
    corpus, rank identically to an uncompacted run, and survive a
    crash-replay of the last batch without double-counting."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        COMPACTED_BATCH,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.retrieval import (
        POSTINGS_SUFFIX,
        bm25_search_postings,
        postings_delta,
    )

    src = tmp_path / "pc_incoming"
    src.mkdir()
    names = ["gamma", "delta", "omega", "sigma"]
    for b, word in enumerate(names):
        _drop_batch_file(
            spark, tmp_path, src, f"b{b}", [(10 + b, _long_text(word))]
        )

    corpus_path = str(tmp_path / "pc_corpus")
    index_path = str(tmp_path / "pc_index")
    kw = dict(postings=True, compact_every=2)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)

    corpus = spark.read.parquet(corpus_path)
    assert {r.doc_id for r in corpus.collect()} == {10, 11, 12, 13}

    post = spark.read.parquet(corpus_path + POSTINGS_SUFFIX)
    batches = {r.ingest_batch for r in post.select("ingest_batch").distinct().collect()}
    # everything except the batch the compaction ran inside is folded
    assert COMPACTED_BATCH in batches and len(batches) <= 2

    post_truth, _ = postings_delta(corpus.select("doc_id", "text"))
    assert sorted(tuple(r) for r in post.select("doc_id", "term", "tf").collect()) == sorted(
        tuple(r) for r in post_truth.collect()
    )

    res = bm25_search_postings(
        spark, corpus_path, [(0, "omega0 omega1"), (1, "gamma2")], topk=2
    )
    rows = {(r.q_id, r.rank): r.doc_id for r in res.collect()}
    assert rows[(0, 1)] == 12 and rows[(1, 1)] == 10

    # crash-replay the final batch on top of the compacted layout
    before = sorted(tuple(r) for r in post.select("doc_id", "term", "tf").collect())
    last = max(
        int(f) for f in os.listdir(os.path.join(corpus_path + "_ckpt", "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(corpus_path + "_ckpt", "commits", str(last)))
    crc = os.path.join(corpus_path + "_ckpt", "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(corpus_path + POSTINGS_SUFFIX)
        .select("doc_id", "term", "tf")
        .collect()
    )
    assert after == before


def test_streaming_paragraph_dedup_incremental(spark, tmp_path):
    """paragraphs=True: cross-batch keep-first — a later batch quoting
    an earlier batch's passage has it cut from its clean face; the
    accumulated clean table must equal the BATCH paragraph operator
    (boilerplate off) over the final corpus when doc ids increase with
    arrival; replay must not change anything; RTBF erases the
    forgotten doc's segment attributions and re-admits resubmitted
    content."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.paragraphs import (
        CLEAN_SUFFIX,
        SEGINDEX_SUFFIX,
    )

    quote = " ".join(f"q{i}" for i in range(10))  # 2 segments at W=5
    src = tmp_path / "par_incoming"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("one") + " " + quote)])
    _drop_batch_file(
        spark, tmp_path, src, "b1",
        [(11, _long_text("two") + " " + quote)],  # quotes batch 0's doc
    )
    _drop_batch_file(spark, tmp_path, src, "b2", [(21, _long_text("three"))])

    corpus_path = str(tmp_path / "par_corpus")
    index_path = str(tmp_path / "par_index")
    kw = dict(paragraphs=True)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)

    def clean_rows():
        return {
            r.doc_id: r
            for r in spark.read.parquet(corpus_path + CLEAN_SUFFIX).collect()
        }

    got = clean_rows()
    assert set(got) == {1, 11, 21}
    assert got[1].n_dup == 0  # first occurrence keeps the quote
    assert got[11].n_dup == 2  # both quoted segments cut
    assert quote not in got[11].kept_text and "two0" in got[11].kept_text
    assert got[21].n_dup == 0

    # streamed ≡ batch operator over the final corpus (doc ids
    # increase with arrival, so arrival order == (doc_id, seg_idx))
    corpus = spark.read.parquet(corpus_path)
    batch = {
        r.doc_id: r
        for r in paragraph_dedup(
            corpus.select("doc_id", "text"), 5, 10**9
        ).collect()
    }
    for did, r in got.items():
        b = batch[did]
        assert (r.n_segments, r.n_kept, r.n_dup, r.kept_text) == (
            b.n_segments, b.n_kept, b.n_dup, b.kept_text
        ), did

    # crash-replay the last batch: everything identical after
    before_idx = sorted(
        tuple(r)
        for r in spark.read.parquet(corpus_path + SEGINDEX_SUFFIX)
        .select("seg_hash", "doc_id")
        .collect()
    )
    last = max(
        int(f)
        for f in os.listdir(os.path.join(corpus_path + "_ckpt", "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(corpus_path + "_ckpt", "commits", str(last)))
    crc = os.path.join(corpus_path + "_ckpt", "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
    assert clean_rows()[11].n_dup == 2
    after_idx = sorted(
        tuple(r)
        for r in spark.read.parquet(corpus_path + SEGINDEX_SUFFIX)
        .select("seg_hash", "doc_id")
        .collect()
    )
    assert after_idx == before_idx

    # RTBF: forgetting doc 1 erases its segment attributions and its
    # clean row; resubmitting its content re-admits it (keep-first
    # belongs to the new copy now)
    forget_documents(spark, corpus_path, index_path, [1])
    assert 1 not in clean_rows()
    assert not [
        r
        for r in spark.read.parquet(corpus_path + SEGINDEX_SUFFIX).collect()
        if r.doc_id == 1
    ]
    _drop_batch_file(
        spark, tmp_path, src, "b3", [(31, _long_text("one") + " " + quote)]
    )
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
    got = clean_rows()
    assert 31 in got
    # the quote's hashes were attributed to doc 1 and erased; doc 11's
    # copy was cut at ingest, so the resubmission is the new winner
    assert quote in got[31].kept_text


def test_streaming_paragraph_segindex_compaction(spark, tmp_path):
    """compact_every with paragraphs=True folds the segment index into
    the base partition; cross-batch cuts keep working against the
    compacted layout."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        COMPACTED_BATCH,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.paragraphs import (
        CLEAN_SUFFIX,
        SEGINDEX_SUFFIX,
    )

    quote = " ".join(f"z{i}" for i in range(10))
    src = tmp_path / "parc_incoming"
    src.mkdir()
    names = ["aaa", "bbb", "ccc", "ddd"]
    for b, w in enumerate(names):
        text = _long_text(w) + (" " + quote if b in (0, 3) else "")
        _drop_batch_file(spark, tmp_path, src, f"b{b}", [(10 + b, text)])

    corpus_path = str(tmp_path / "parc_corpus")
    run_streaming_curation(
        spark, str(src), corpus_path, str(tmp_path / "parc_index"),
        paragraphs=True, compact_every=2,
    )
    seg = spark.read.parquet(corpus_path + SEGINDEX_SUFFIX)
    batches = {r.ingest_batch for r in seg.select("ingest_batch").distinct().collect()}
    assert COMPACTED_BATCH in batches and len(batches) <= 2
    got = {r.doc_id: r for r in spark.read.parquet(corpus_path + CLEAN_SUFFIX).collect()}
    # batch 3 quotes batch 0 ACROSS the compaction fold: still cut
    assert got[13].n_dup == 2 and quote not in got[13].kept_text
    assert got[10].n_dup == 0 and quote in got[10].kept_text


def test_paragraph_delta_bucketed_probe_has_fewer_exchanges(spark, tmp_path):
    """The seg bucket table is the 100 TB probe shape: paragraph_delta
    probing [bucketed table] must return the identical clean/delta
    rows as the plain parquet probe, with the index side's probe-join
    Exchange elided (Bucketed: true scan, fewer hashpartitioning
    exchanges)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.paragraphs import (
        build_bucketed_seg_index,
        paragraph_delta,
    )

    quote = " ".join(f"z{i}" for i in range(10))
    seeded = spark.createDataFrame(
        [(i, _long_text(f"s{i}") + " " + quote) for i in range(10)], DOC_SCHEMA
    )
    # first batch builds the index rows the second batch probes
    _, delta0, cache0 = paragraph_delta(seeded, None)
    segindex_path = str(tmp_path / "seg_index_pq")
    delta0.write.parquet(segindex_path)
    cache0.unpersist()
    # bucket count == shuffle partitions: the seen-join's OTHER side
    # arrives already hash-partitioned at shuffle.partitions (from the
    # winners join), so the table's exchange elides only when the
    # counts co-partition — size buckets to the cluster's shuffle
    # parallelism (at 100 TB both are chosen together anyway)
    build_bucketed_seg_index(spark, segindex_path, "segbkt_t", n_buckets=8)

    batch = spark.createDataFrame(
        [(100, _long_text("new") + " " + quote)], DOC_SCHEMA
    )
    plain_rel = spark.read.parquet(segindex_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # pin the runtime partitioning the elision claim is about: AQE's
    # coalescing re-sizes the winners-join output by observed bytes
    # (suite-order dependent via cache pressure), and a coalesced left
    # side no longer co-partitions with the 8-bucket table
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        clean_b, delta_b, cache_b = paragraph_delta(
            batch, [spark.table("segbkt_t")]
        )
        clean_p, delta_p, cache_p = paragraph_delta(batch, plain_rel)
        try:
            rows_b = sorted(map(tuple, clean_b.collect()))
            rows_p = sorted(map(tuple, clean_p.collect()))
            assert rows_b == rows_p
            assert rows_b[0][3] == 2  # both quoted segments cut (n_dup)
            assert sorted(map(tuple, delta_b.collect())) == sorted(
                map(tuple, delta_p.collect())
            )
            plan_b = clean_b._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan_b, plan_b
            # the load-bearing elision, asserted on the deterministic
            # subplan: the seen-side distinct over the bucket key runs
            # with NO Exchange (a parquet-side distinct always pays
            # one) — cross-plan exchange COUNTS proved order-dependent
            # under AQE runtime re-planning, the subplan shape is not
            seen_plan = (
                spark.table("segbkt_t")
                .select("seg_hash")
                .distinct()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange" not in seen_plan, seen_plan
            plain_seen_plan = (
                plain_rel.select("seg_hash")
                .distinct()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange" in plain_seen_plan, plain_seen_plan
        finally:
            cache_b.unpersist()
            cache_p.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS segbkt_t")


def test_streaming_paragraphs_bucketed_probe_matches_plain(spark, tmp_path):
    """paragraphs=True + bucket_index_table: the seg bucket table is a
    pure physical cache — the streamed clean faces must equal the
    plain run's, with cross-batch cuts landing via BOTH probe halves
    (the bucketed base for a compaction-covered hash, the parquet tail
    for a post-rebuild one); RTBF sweeps the seg table and its meta,
    and a resubmission after the sweep is re-admitted."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.paragraphs import (
        CLEAN_SUFFIX,
        SEGINDEX_SUFFIX,
    )

    quote = " ".join(f"p{i}" for i in range(10))  # 2 segs, planted batch 0
    tailq = "c0 c1 c2 c3 c4"  # doc 21's seg 0 — enters the index AFTER the rebuild
    batches = [
        ("b0", [(1, _long_text("a") + " " + quote)]),
        ("b1", [(11, _long_text("b") + " " + quote)]),  # parquet-probe cut
        # compact_every=2 -> rebuild after b1: seg table covers <= 1
        ("b2", [(21, _long_text("c"))]),
        ("b3", [(31, _long_text("d") + " " + quote + " " + tailq)]),
    ]
    paths = {}
    for which, bkt in (("bkt", "pbkt_t"), ("plain", None)):
        src = tmp_path / f"{which}_par_in"
        src.mkdir()
        for name, rows in batches:
            _drop_batch_file(spark, tmp_path, src, name, rows)
        corpus = str(tmp_path / f"{which}_par_corpus")
        index = str(tmp_path / f"{which}_par_index")
        run_streaming_curation(
            spark, str(src), corpus, index,
            compact_every=2, paragraphs=True,
            **({"bucket_index_table": bkt, "n_index_buckets": 4} if bkt else {}),
        )
        paths[which] = (src, corpus, index)

    def clean_rows(corpus):
        return {
            r.doc_id: tuple(r)
            for r in spark.read.parquet(corpus + CLEAN_SUFFIX).collect()
        }

    got_b = clean_rows(paths["bkt"][1])
    got_p = clean_rows(paths["plain"][1])
    assert got_b == got_p
    # doc 31: quote (2 segs, bucketed base) + tailq (1 seg, parquet
    # tail) all cut
    row31 = {r.doc_id: r for r in spark.read.parquet(paths["bkt"][1] + CLEAN_SUFFIX).collect()}[31]
    assert row31.n_dup == 3 and quote not in row31.kept_text
    # the seg meta names a live version covering the final compaction
    smeta = spark.read.parquet(paths["bkt"][1] + SEGINDEX_SUFFIX + "_bucketmeta").collect()
    assert [r.covered_batch for r in smeta] == [3]
    assert smeta[0].table_version.startswith("pbkt_t_seg__v3_a")
    assert spark.catalog.tableExists(smeta[0].table_version)

    # RTBF sweeps the seg bucket table + meta; resubmission re-admits
    src_b, corpus_b, index_b = paths["bkt"]
    forget_documents(spark, corpus_b, index_b, [1], bucket_index_table="pbkt_t")
    assert not any(
        t.name.startswith("pbkt_t_seg") for t in spark.catalog.listTables()
    )
    assert not os.path.isdir(corpus_b + SEGINDEX_SUFFIX + "_bucketmeta")
    _drop_batch_file(
        spark, tmp_path, src_b, "b4", [(41, _long_text("a") + " " + quote)]
    )
    run_streaming_curation(
        spark, str(src_b), corpus_b, index_b,
        compact_every=2, paragraphs=True,
        bucket_index_table="pbkt_t", n_index_buckets=4,
    )
    try:
        got = clean_rows(corpus_b)
        assert 41 in got
        row41 = {r.doc_id: r for r in spark.read.parquet(corpus_b + CLEAN_SUFFIX).collect()}[41]
        assert quote in row41.kept_text  # erased attribution -> new winner
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("pbkt_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_vacuum_heals_swaps_and_gcs_orphan_versions(spark, tmp_path):
    """vacuum_tables: a stale .__tmp__ from an interrupted swap is
    healed, orphan bucket-table versions (catalog entries AND
    warehouse dirs) the meta does not name are dropped, and the live
    version survives untouched."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        run_streaming_curation,
        vacuum_tables,
    )

    src = tmp_path / "vac_in"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a"))])
    _drop_batch_file(spark, tmp_path, src, "b1", [(2, _long_text("b"))])
    corpus = str(tmp_path / "vac_corpus")
    index = str(tmp_path / "vac_index")
    try:
        run_streaming_curation(
            spark, str(src), corpus, index,
            compact_every=2, bucket_index_table="vac_t", n_index_buckets=4,
        )
        live = spark.read.parquet(index + "_bucketmeta").first().table_version
        assert spark.catalog.tableExists(live)
        # plant an orphan version (a rebuild attempt whose GC never
        # ran) and a stale interrupted-swap temp
        orphan = "vac_t__v1_a99"
        spark.range(3).selectExpr("id AS doc_id").write.saveAsTable(orphan)
        os.makedirs(index + ".__tmp__", exist_ok=True)

        rep = vacuum_tables(spark, corpus, index)
        assert orphan in rep["dropped"]
        assert not spark.catalog.tableExists(orphan)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        assert not os.path.isdir(os.path.join(warehouse, orphan))
        assert not os.path.isdir(index + ".__tmp__")
        # the live version and the data tables are untouched
        assert spark.catalog.tableExists(live)
        assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 2}
        # idempotent
        rep2 = vacuum_tables(spark, corpus, index)
        assert rep2["dropped"] == []
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("vac_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_vacuum_covers_the_segment_bucket_table_too(spark, tmp_path):
    """The incremental-paragraph-dedup seg-index bucket table shares
    the manifest-pointer protocol with the sig table, so the SAME
    vacuum verb must heal an interrupted seg-index swap and GC orphan
    seg-table versions (VERDICT r6 #7)."""
    import os

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        run_streaming_curation,
        vacuum_tables,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.paragraphs import SEGINDEX_SUFFIX

    src = tmp_path / "svac_in"
    src.mkdir()
    quote = " ".join(f"s{i}" for i in range(10))
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a") + " " + quote)])
    _drop_batch_file(spark, tmp_path, src, "b1", [(2, _long_text("b") + " " + quote)])
    corpus = str(tmp_path / "svac_corpus")
    index = str(tmp_path / "svac_index")
    try:
        run_streaming_curation(
            spark, str(src), corpus, index,
            compact_every=2, paragraphs=True,
            bucket_index_table="svac_t", n_index_buckets=4,
        )
        seg_meta = corpus + SEGINDEX_SUFFIX + "_bucketmeta"
        live_seg = spark.read.parquet(seg_meta).first().table_version
        assert live_seg.startswith("svac_t_seg__v")
        assert spark.catalog.tableExists(live_seg)
        # plant an orphan SEG version and a stale interrupted-swap
        # temp on the SEG index parquet table
        orphan = "svac_t_seg__v1_a99"
        spark.range(3).selectExpr("id AS seg_hash").write.saveAsTable(orphan)
        os.makedirs(corpus + SEGINDEX_SUFFIX + ".__tmp__", exist_ok=True)

        rep = vacuum_tables(spark, corpus, index)
        assert orphan in rep["dropped"]
        assert not spark.catalog.tableExists(orphan)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        assert not os.path.isdir(os.path.join(warehouse, orphan))
        assert not os.path.isdir(corpus + SEGINDEX_SUFFIX + ".__tmp__")
        # the live seg version, its meta, and the seg data survive
        assert spark.catalog.tableExists(live_seg)
        assert spark.read.parquet(seg_meta).first().table_version == live_seg
        assert spark.read.parquet(corpus + SEGINDEX_SUFFIX).count() > 0
        rep2 = vacuum_tables(spark, corpus, index)
        assert rep2["dropped"] == []
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("svac_t"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_quality_gate_mojibake(spark):
    """The streaming gate applies the SAME mojibake-density reject as
    the batch funnel when the ingest path supplies n_repl/n_chars —
    and stays a pure token/ttr gate when it doesn't."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import _gate_flag

    def admitted(df):
        return {r.doc_id for r in _gate_flag(df, 24, 0.35).filter("_gated").collect()}

    text = " ".join(f"tok{i}a tok{i}b" for i in range(16))
    rows = [
        (1, text, len(text), 0),
        (2, text, len(text), 500),   # 500 replacements -> mojibake
        (3, text, len(text), None),  # null count passes
    ]
    schema = "doc_id long, text string, n_chars long, n_repl long"
    assert admitted(spark.createDataFrame(rows, schema)) == {1, 3}
    # without the columns the gate is unchanged
    plain = spark.createDataFrame(
        [(i, t) for i, t, _, _ in rows], "doc_id long, text string"
    )
    assert admitted(plain) == {1, 2, 3}


def _warc_record(rec_id: str, payload: bytes, uri: str,
                 warc_type: str = "response",
                 date: str = "2026-02-03T04:05:06Z") -> bytes:
    ctype = (
        "application/http; msgtype=response"
        if warc_type == "response"
        else "text/plain"
    )
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + rec_id.encode() + b">",
        b"WARC-Date: " + date.encode(),
        b"WARC-Target-URI: " + uri.encode(),
        b"Content-Type: " + ctype.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _http_html(body: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        + body
    )


def _crawl_doc_id(rec_id: str) -> int:
    import hashlib

    return int(hashlib.md5(f"<urn:uuid:{rec_id}>".encode()).hexdigest()[:15], 16)


def test_streaming_warc_ingest_incremental_replay_forget(spark, tmp_path):
    """VERDICT r8 #3: raw .warc.gz archives feed the streaming
    curation lifecycle directly (run_ingest --format warc): one
    archive per micro-batch through HTTP decode -> extraction ->
    quality gate (the mojibake reject FIRES on crawl bytes) ->
    incremental dedup; a second invocation ingests only new archives;
    a no-new-files re-run is a no-op; forget erases the crawl doc."""
    import gzip as _gz

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        run_streaming_curation,
    )

    def page(text: str) -> bytes:
        return f"<html><body><p>{text}</p></body></html>".encode()

    src = tmp_path / "crawl_incoming"
    src.mkdir()
    # archive 1: one good page + one mojibake page (varied tokens and
    # ttr clear the basic gates — ONLY the replacement-density gate
    # can reject it)
    moji_body = (
        b"<html><body><p>"
        + b" ".join(b"w%d\xff\xfe" % i for i in range(40))
        + b"</p></body></html>"
    )
    gone = (
        b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n"
        + page(_long_text("gone"))
    )
    # a torn record MID-ARCHIVE (unparseable Content-Length): the
    # parser quarantines it, resyncs, and — r10 — the record-level
    # reject rides into <corpus>_rejects alongside the shaped ones
    torn = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"Content-Length: NaN\r\n"
        b"\r\n"
    )
    a1 = (
        _warc_record(
            "good1", _http_html(page(_long_text("alpha"))), "http://a.com/1"
        )
        + torn
        + _warc_record("moji1", _http_html(moji_body), "http://a.com/m")
        + _warc_record("gone1", gone, "http://a.com/404")
    )
    (src / "a1.warc.gz").write_bytes(_gz.compress(a1))

    corpus_path = str(tmp_path / "crawl_corpus")
    index_path = str(tmp_path / "crawl_index")
    kw = dict(source_format="warc", stats=True)
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)

    corpus = spark.read.parquet(corpus_path)
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert ids == {_crawl_doc_id("good1")}  # mojibake page rejected
    row = corpus.collect()[0]
    # crawl metadata priors ride into the corpus
    assert row.html_lang is None and row.fetched_at is not None
    assert row.n_repl == 0 and "alpha0" in row.text
    # the stats funnel pins WHY: 2 docs arrived past the reader,
    # 1 past the gate — and the reader's own reject arm (the 404) is
    # OBSERVABLE in its replay-idempotent table, not silently dropped
    stats = {
        r.ingest_batch: (r.n_arrived, r.n_gated, r.n_kept)
        for r in spark.read.parquet(corpus_path + "_stats").collect()
    }
    assert stats[0] == (2, 1, 1)
    rej = {r.doc_id: r for r in spark.read.parquet(corpus_path + "_rejects").collect()}
    assert len(rej) == 2  # the shaped 404 + the record-level torn row
    gone_row = rej[_crawl_doc_id("gone1")]
    assert "gone0" in gone_row.text
    (torn_row,) = [r for r in rej.values() if r.doc_id != _crawl_doc_id("gone1")]
    # record-level quarantine (r10): the torn record's offending
    # header bytes are visible, typed nulls elsewhere
    assert "Content-Length: NaN" in torn_row.text
    assert torn_row.source == "unknown" and torn_row.fetched_at is None
    assert torn_row.charset is None and torn_row.main_text is None

    # second invocation: only the NEW archive is ingested (checkpoint
    # skips a1), and a re-fetch of good1's content dedups away
    a2 = _warc_record(
        "good2", _http_html(page(_long_text("beta"))), "http://b.com/2"
    ) + _warc_record(
        "refetch1", _http_html(page(_long_text("alpha"))), "http://a.com/1"
    )
    (src / "a2.warc.gz").write_bytes(_gz.compress(a2))
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
    ids = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
    assert ids == {_crawl_doc_id("good1"), _crawl_doc_id("good2")}

    # no-new-files re-run: a committed checkpoint makes it a no-op
    before = sorted(
        tuple(r) for r in spark.read.parquet(corpus_path).select(
            "doc_id", "ingest_batch"
        ).collect()
    )
    run_streaming_curation(spark, str(src), corpus_path, index_path, **kw)
    after = sorted(
        tuple(r) for r in spark.read.parquet(corpus_path).select(
            "doc_id", "ingest_batch"
        ).collect()
    )
    assert after == before

    # right-to-be-forgotten reaches the crawl doc (corpus + index)
    forget_documents(spark, corpus_path, index_path, [_crawl_doc_id("good1")])
    ids = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
    assert ids == {_crawl_doc_id("good2")}
    assert {
        r.doc_id for r in spark.read.parquet(index_path).collect()
    } == {_crawl_doc_id("good2")}


def test_streaming_warc_skewed_archives(spark, tmp_path):
    """Media-path scale drill (VERDICT r9 #7): one HOT multi-MB
    archive among small ones through the streaming WARC path — the
    one-task-per-archive granularity must carry the hot archive
    whole (every record lands), per-record isolation must hold AT
    ARCHIVE SCALE (a torn record mid-hot-archive quarantines to the
    rejects table while its ~100 siblings survive), and the per-file
    micro-batching must keep one archive per batch so a skewed drop
    directory never fuses archives into one giant batch."""
    import gzip as _gz

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    def page(seed: str) -> bytes:
        # ~4 KB page with gate-clearing token variety
        words = " ".join(f"{seed}w{j}x{j % 7}" for j in range(400))
        return f"<html><body><p>{words}</p></body></html>".encode()

    src = tmp_path / "skew_incoming"
    src.mkdir()
    n_hot = 100
    torn = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"Content-Length: NaN\r\n"
        b"\r\n"
    )
    hot_parts = []
    for i in range(n_hot):
        hot_parts.append(
            _warc_record(
                f"hot{i}", _http_html(page(f"h{i}")), f"http://hot.com/{i}"
            )
        )
        if i == n_hot // 2:  # torn record mid-archive
            hot_parts.append(torn)
    hot = b"".join(hot_parts)
    assert len(hot) > 400_000  # genuinely the skewed archive
    (src / "a_hot.warc.gz").write_bytes(_gz.compress(hot))
    for k in range(3):
        small = _warc_record(
            f"small{k}", _http_html(page(f"s{k}")), f"http://s{k}.com/"
        )
        (src / f"b_small{k}.warc.gz").write_bytes(_gz.compress(small))

    corpus_path = str(tmp_path / "skew_corpus")
    run_streaming_curation(
        spark, str(src), corpus_path, str(tmp_path / "skew_index"),
        source_format="warc", stats=True,
    )
    corpus = spark.read.parquet(corpus_path)
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    want = {_crawl_doc_id(f"hot{i}") for i in range(n_hot)} | {
        _crawl_doc_id(f"small{k}") for k in range(3)
    }
    assert ids == want  # every record of the hot archive landed
    # per-record isolation at archive scale: exactly the torn row
    # quarantined, none of its siblings
    rej = spark.read.parquet(corpus_path + "_rejects").collect()
    assert len(rej) == 1 and "Content-Length: NaN" in rej[0].text
    # one archive per micro-batch (maxFilesPerTrigger=1): the hot
    # archive is its own batch, never fused with the small ones
    stats = {
        r.ingest_batch: r.n_arrived
        for r in spark.read.parquet(corpus_path + "_stats").collect()
    }
    assert len(stats) == 4 and sorted(stats.values()) == [1, 1, 1, n_hot]


def test_streaming_wet_ingest(spark, tmp_path):
    """WET extracts stream through the same lifecycle (--format wet):
    conversion records project onto the documents shape per
    micro-batch and the curation gates apply unchanged.  r10 (VERDICT
    r9 #5): record-level quarantine parity — a corrupt WET record
    lands in <corpus>_rejects exactly like the WARC path, and replay
    is a no-op for the rejects table too."""
    import gzip as _gz

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    src = tmp_path / "wet_incoming"
    src.mkdir()
    torn = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"Content-Length: NaN\r\n"
        b"\r\n"
    )
    arch = (
        _warc_record(
            "wet1", _long_text("gamma").encode(), "http://c.org/x",
            warc_type="conversion",
        )
        + torn
        + _warc_record(
            "short1", b"too short", "http://c.org/y", warc_type="conversion"
        )
    )
    (src / "w1.warc.gz").write_bytes(_gz.compress(arch))
    corpus_path = str(tmp_path / "wet_corpus")
    index_path = str(tmp_path / "wet_index")
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, source_format="wet",
    )
    rows = spark.read.parquet(corpus_path).collect()
    assert {r.doc_id for r in rows} == {_crawl_doc_id("wet1")}
    assert rows[0].source == "c.org" and "gamma0" in rows[0].text
    # the corrupt record is OBSERVABLE in the rejects table (docs
    # shape: offending bytes as text, typed nulls elsewhere, a
    # deterministic fallback doc_id)
    rej = spark.read.parquet(corpus_path + "_rejects").collect()
    assert len(rej) == 1
    assert "Content-Length: NaN" in rej[0].text
    assert rej[0].source == "unknown" and rej[0].fetched_at is None
    assert rej[0].doc_id is not None and rej[0].lang is None
    # replay no-op: a committed checkpoint leaves corpus AND rejects
    # bit-identical
    before = sorted(tuple(r) for r in spark.read.parquet(corpus_path + "_rejects").collect())
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, source_format="wet",
    )
    after = sorted(tuple(r) for r in spark.read.parquet(corpus_path + "_rejects").collect())
    assert after == before
    assert {
        r.doc_id for r in spark.read.parquet(corpus_path).collect()
    } == {_crawl_doc_id("wet1")}


def test_streaming_keep_newest_supersedes_stale_recrawl(spark, tmp_path):
    """r11 (VERDICT r10 #3): continuous-ingest CRAWL semantics — a
    re-crawl arriving in a later micro-batch with a newer fetched_at
    SUPERSEDES the stale corpus copy instead of dropping as a
    duplicate; stale re-deliveries and within-batch older copies
    still drop; the corpus stays append-only (the stale row is hidden
    by read_corpus_asof's windowed marker anti-join, so every earlier
    watermark still shows exactly what it showed then); replay is a
    no-op; RTBF erases the whole supersession chain and re-admits the
    content."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        DIGESTS_SUFFIX,
        forget_documents,
        read_corpus_asof,
        run_streaming_curation,
    )

    schema = "doc_id long, text string, fetched_at timestamp"
    ts = lambda m, d=1: datetime.datetime(2026, m, d)  # noqa: E731
    X, Y, Z = _long_text("x"), _long_text("y"), _long_text("z")
    src = tmp_path / "kn_incoming"
    src.mkdir()

    def drop_file(name, rows):
        import glob as _g
        import shutil as _sh

        ds = tmp_path / f"_kn_{name}_ds"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(ds))
        _sh.copy(_g.glob(str(ds / "part-*.parquet"))[0], str(src / f"{name}.parquet"))

    corpus_path = str(tmp_path / "kn_corpus")
    index_path = str(tmp_path / "kn_index")

    def ingest():
        run_streaming_curation(
            spark, str(src), corpus_path, index_path, stats=True, dedup="keep-newest"
        )

    drop_file("batch_a", [(1, X, ts(1)), (2, Y, ts(1))])
    drop_file("batch_b", [
        (101, X, ts(2)),        # re-crawl, newer -> supersedes 1
        (102, Y, ts(1) - datetime.timedelta(days=10)),  # stale -> drops
        (103, Z, ts(2)),        # fresh, but older in-batch copy of Z
        (104, Z, ts(3)),        # within-batch newest copy of Z -> survives
    ])
    ingest()

    def ids(df):
        return {r.doc_id for r in df.select("doc_id").collect()}

    # current view: the re-crawl replaced the stale copy end-to-end
    assert ids(read_corpus_asof(spark, corpus_path)) == {101, 2, 104}
    # the as-of axis stays truthful: batch 0's watermark still shows 1
    assert ids(read_corpus_asof(spark, corpus_path, 0)) == {1, 2}
    assert ids(read_corpus_asof(spark, corpus_path, 1)) == {101, 2, 104}
    # corpus is append-only; the superseder names its predecessor
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert set(raw) == {1, 2, 101, 104}
    assert raw[101].supersedes == 1 and raw[104].supersedes is None
    # sig index carries the superseder under its NEW id; digests map
    # the content history
    assert ids(spark.read.parquet(index_path)) == {1, 2, 101, 104}
    digests = spark.read.parquet(corpus_path + DIGESTS_SUFFIX)
    assert ids(digests) == {1, 2, 101, 104}
    # per-batch funnel counts the superseder as kept
    stats = {
        r.ingest_batch: (r.n_arrived, r.n_gated, r.n_kept)
        for r in spark.read.parquet(corpus_path + "_stats").collect()
    }
    assert stats[0] == (2, 2, 2)
    assert stats[1] == (4, 4, 2)  # 101 supersedes + 104 fresh

    # supersession CHAIN: an even newer re-crawl replaces the replacer
    drop_file("batch_c", [(201, X, ts(3))])
    ingest()
    assert ids(read_corpus_asof(spark, corpus_path)) == {201, 2, 104}
    assert ids(read_corpus_asof(spark, corpus_path, 1)) == {101, 2, 104}
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert raw[201].supersedes == 101

    # replay is a no-op: re-running against the drained source leaves
    # every table exactly as it was
    before = {
        p: sorted(map(str, spark.read.parquet(p).collect()))
        for p in (corpus_path, index_path, corpus_path + DIGESTS_SUFFIX)
    }
    ingest()
    after = {
        p: sorted(map(str, spark.read.parquet(p).collect()))
        for p in (corpus_path, index_path, corpus_path + DIGESTS_SUFFIX)
    }
    assert before == after

    # RTBF erases the WHOLE chain (the digests table names it): the
    # content leaves corpus, index, and digests...
    chain = [1, 101, 201]
    forget_documents(spark, corpus_path, index_path, chain)
    assert ids(read_corpus_asof(spark, corpus_path)) == {2, 104}
    assert ids(spark.read.parquet(index_path)) == {2, 104}
    assert ids(spark.read.parquet(corpus_path + DIGESTS_SUFFIX)) == {2, 104}
    # ...and a legitimate resubmission is admitted again, not ghosted
    drop_file("batch_d", [(301, X, ts(1, 5))])
    ingest()
    assert ids(read_corpus_asof(spark, corpus_path)) == {2, 104, 301}


def test_streaming_keep_newest_requires_a_timestamp_column(spark, tmp_path):
    """keep-newest without a fetched_at column on the stream is a
    construction-time error, not a mid-ingest analysis failure."""
    import pytest

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    src = tmp_path / "kn_nots"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a"))])
    with pytest.raises(ValueError, match="fetched_at"):
        run_streaming_curation(
            spark,
            str(src),
            str(tmp_path / "c"),
            str(tmp_path / "i"),
            dedup="keep-newest",
        )


def test_streaming_wet_keep_newest_recrawl_and_search_visibility(spark, tmp_path):
    """The keep-newest lifecycle on the REAL crawl path: two WET
    archives where the second carries a re-crawl of the first's page
    with a newer WARC-Date (fetched_at is minted by the reader, not
    synthesized) — the re-crawl supersedes the stale copy end-to-end,
    and BM25 search over the streamed postings ranks only the VISIBLE
    corpus: the stale copy's lingering postings rows are excluded
    from scoring and from the collection statistics, so the page
    surfaces once, under its freshest id."""
    import gzip as _gz

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.retrieval import bm25_search_postings

    X, Y = _long_text("x"), _long_text("y")
    src = tmp_path / "wet_kn_incoming"
    src.mkdir()
    w1 = _warc_record(
        "p1", X.encode(), "http://s.example/p", warc_type="conversion",
        date="2026-01-01T00:00:00Z",
    ) + _warc_record(
        "q1", Y.encode(), "http://s.example/q", warc_type="conversion",
        date="2026-01-01T00:00:00Z",
    )
    w2 = _warc_record(
        "p2", X.encode(), "http://s.example/p", warc_type="conversion",
        date="2026-02-01T00:00:00Z",
    )
    (src / "w1.warc.gz").write_bytes(_gz.compress(w1))
    (src / "w2.warc.gz").write_bytes(_gz.compress(w2))

    corpus_path = str(tmp_path / "wet_kn_corpus")
    index_path = str(tmp_path / "wet_kn_index")
    run_streaming_curation(
        spark, str(src), corpus_path, index_path,
        source_format="wet", dedup="keep-newest", postings=True,
    )

    p1, q1, p2 = map(_crawl_doc_id, ("p1", "q1", "p2"))
    visible = {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()}
    assert visible == {p2, q1}
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert set(raw) == {p1, q1, p2}
    assert raw[p2].supersedes == p1

    # BM25 over the streamed postings: a term unique to the re-crawled
    # page ranks ONLY the fresh copy (the stale copy's postings rows
    # are still on disk but invisible to scoring); the other page is
    # untouched
    res = bm25_search_postings(spark, corpus_path, [(0, "x5"), (1, "y5")], topk=5)
    hits = {(r.q_id, r.doc_id) for r in res.collect()}
    assert hits == {(0, p2), (1, q1)}
    # the stale copy's rows really are still in the postings table
    post_ids = {
        r.doc_id
        for r in spark.read.parquet(corpus_path + "_postings")
        .select("doc_id").distinct().collect()
    }
    assert p1 in post_ids


def test_streaming_keep_newest_inherits_predecessor_clean_face(spark, tmp_path):
    """keep-newest x paragraphs: a superseder's content is digest-
    identical to its predecessor, so re-cutting it against the seg
    index would scrub EVERY segment as a cross-batch dup and emit an
    empty clean face while the predecessor's good face is hidden —
    the superseder must INHERIT the predecessor's face under its new
    id instead.  Segment attribution stays with the chain's origin,
    and a fresh doc quoting the re-crawled content still gets the
    quote cut (the index is untouched by the supersession)."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )

    schema = "doc_id long, text string, fetched_at timestamp"
    X = _long_text("x")                       # 30 tokens -> 6 segments
    first_seg = " ".join(X.split()[:5])       # X's segment 0
    B = first_seg + " " + " ".join(f"b{i}" for i in range(25))
    src = tmp_path / "knp_incoming"
    src.mkdir()

    def drop_file(name, rows):
        import glob as _g
        import shutil as _sh

        ds = tmp_path / f"_knp_{name}_ds"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(ds))
        _sh.copy(_g.glob(str(ds / "part-*.parquet"))[0], str(src / f"{name}.parquet"))

    corpus_path = str(tmp_path / "knp_corpus")
    index_path = str(tmp_path / "knp_index")

    def ingest():
        run_streaming_curation(
            spark, str(src), corpus_path, index_path,
            dedup="keep-newest", paragraphs=True,
        )

    drop_file("batch_a", [(1, X, datetime.datetime(2026, 1, 1))])
    drop_file("batch_b", [
        (101, X, datetime.datetime(2026, 2, 1)),  # re-crawl -> supersedes 1
        (7, B, datetime.datetime(2026, 2, 1)),    # fresh doc quoting X's seg 0
    ])
    ingest()

    clean = {r.doc_id: r for r in spark.read.parquet(corpus_path + "_clean").collect()}
    assert set(clean) == {1, 101, 7}
    # the superseder's face IS the predecessor's, under the new id
    for col in ("n_segments", "n_kept", "n_dup", "kept_text"):
        assert clean[101][col] == clean[1][col]
    assert clean[101].n_kept == 6 and clean[101].kept_text == X
    # the fresh doc's quote of the re-crawled content is still cut
    assert clean[7].n_dup == 1 and first_seg not in clean[7].kept_text
    assert clean[7].n_kept == 5
    # segment attribution stays with the chain's origin + the fresh doc
    seg_ids = {
        r.doc_id
        for r in spark.read.parquet(corpus_path + "_segindex")
        .select("doc_id").distinct().collect()
    }
    assert seg_ids == {1, 7}
    # visible corpus agrees
    assert {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()} == {101, 7}
    # replay is a no-op for the clean table too
    before = sorted(map(str, spark.read.parquet(corpus_path + "_clean").collect()))
    ingest()
    after = sorted(map(str, spark.read.parquet(corpus_path + "_clean").collect()))
    assert before == after


def _kn_drop_file(spark, tmp_path, src, name, rows):
    """One keep-newest micro-batch file: (doc_id, text, fetched_at)."""
    import glob as _g
    import shutil as _sh

    schema = "doc_id long, text string, fetched_at timestamp"
    ds = tmp_path / f"_kn12_{src.name}_{name}_ds"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(ds))
    _sh.copy(_g.glob(str(ds / "part-*.parquet"))[0], str(src / f"{name}.parquet"))


def test_streaming_near_dup_keep_newest_supersedes_edited_recrawl(spark, tmp_path):
    """r12 (VERDICT r11 #1-missing / #2-next): the COMMON re-crawl —
    the page's content changed slightly, so the exact-digest probe
    misses and the arrival lands in the near-dup probe.  Under r11 it
    dropped keep-first and the corpus kept the STALE version forever;
    now a strictly-newer near-dup arrival SUPERSEDES the newest
    visible colliding copy: as-of reads stay truthful, BM25 surfaces
    only the fresh copy, stale near-dups still drop, replay is a
    no-op, and chain RTBF (expand_chains walks the supersedes edges)
    erases every version and re-admits the content."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        DIGESTS_SUFFIX,
        forget_documents,
        read_corpus_asof,
        run_streaming_curation,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.retrieval import bm25_search_postings

    ts = lambda m, d=1: datetime.datetime(2026, m, d)  # noqa: E731
    X, Y = _long_text("x"), _long_text("y")
    X1 = X + " edit1 edit2"            # near-dup edit of X (not exact)
    X2 = X + " edit1 edit2 e3 e4"      # second-generation edit
    src = tmp_path / "nkn_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "nkn_corpus")
    index_path = str(tmp_path / "nkn_index")

    def ingest():
        run_streaming_curation(
            spark, str(src), corpus_path, index_path,
            stats=True, postings=True, dedup="keep-newest",
        )

    def ids(df):
        return {r.doc_id for r in df.select("doc_id").collect()}

    _kn_drop_file(spark, tmp_path, src, "batch_a", [(1, X, ts(1)), (2, Y, ts(1))])
    _kn_drop_file(spark, tmp_path, src, "batch_b", [(101, X1, ts(2))])
    ingest()

    # the edited re-crawl supersedes the stale copy (near-dup path:
    # different digest, signature collision, strictly newer)
    assert ids(read_corpus_asof(spark, corpus_path)) == {101, 2}
    assert ids(read_corpus_asof(spark, corpus_path, 0)) == {1, 2}
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert set(raw) == {1, 2, 101}
    assert raw[101].supersedes == 1 and raw[101].text == X1
    # the digests table mirrors the marker (supersession system of
    # record) and carries the NEW digest for the edited content
    dig = {r.doc_id: r for r in spark.read.parquet(corpus_path + DIGESTS_SUFFIX).collect()}
    assert dig[101].supersedes == 1 and dig[1].supersedes is None
    assert dig[101].digest != dig[1].digest
    # sig index carries the edit under its new id (future re-crawls
    # of the edited content must collide with it)
    assert ids(spark.read.parquet(index_path)) == {1, 2, 101}
    # funnel counts the near-dup superseder as kept
    stats = {
        r.ingest_batch: (r.n_arrived, r.n_gated, r.n_kept)
        for r in spark.read.parquet(corpus_path + "_stats").collect()
    }
    assert stats[1] == (1, 1, 1)

    # BM25 ranks only the visible corpus: a term both versions carry
    # surfaces the page once, under the fresh id
    res = bm25_search_postings(spark, corpus_path, [(0, "x5")], topk=5)
    assert {(r.q_id, r.doc_id) for r in res.collect()} == {(0, 101)}

    # a STALE near-dup re-delivery (older than the visible copy) drops
    _kn_drop_file(
        spark, tmp_path, src, "batch_c",
        [(201, X + " stale9", ts(1) - datetime.timedelta(days=3))],
    )
    ingest()
    assert ids(read_corpus_asof(spark, corpus_path)) == {101, 2}
    assert 201 not in ids(spark.read.parquet(corpus_path))

    # CHAIN: a second-generation edit supersedes the first edit (the
    # newest VISIBLE partner — not the long-hidden origin)
    _kn_drop_file(spark, tmp_path, src, "batch_d", [(301, X2, ts(3))])
    ingest()
    assert ids(read_corpus_asof(spark, corpus_path)) == {301, 2}
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert raw[301].supersedes == 101
    # every historical watermark still truthful
    assert ids(read_corpus_asof(spark, corpus_path, 1)) == {101, 2}
    assert ids(read_corpus_asof(spark, corpus_path, 0)) == {1, 2}

    # replay is a no-op
    tables = (corpus_path, index_path, corpus_path + DIGESTS_SUFFIX)
    before = {p: sorted(map(str, spark.read.parquet(p).collect())) for p in tables}
    ingest()
    after = {p: sorted(map(str, spark.read.parquet(p).collect())) for p in tables}
    assert before == after

    # RTBF names ONE chain member; expand_chains walks the supersedes
    # edges (near-dup links span digests) and erases every version
    report = forget_documents(spark, corpus_path, index_path, [301])
    assert report["doc_ids"] == [1, 101, 301]
    assert ids(read_corpus_asof(spark, corpus_path)) == {2}
    assert ids(spark.read.parquet(index_path)) == {2}
    assert ids(spark.read.parquet(corpus_path + DIGESTS_SUFFIX)) == {2}
    # the content is admissible again afterwards
    _kn_drop_file(spark, tmp_path, src, "batch_e", [(401, X2, ts(1, 5))])
    ingest()
    assert ids(read_corpus_asof(spark, corpus_path)) == {2, 401}


def test_streaming_keep_newest_revert_supersedes_visible_edit(spark, tmp_path):
    """A page REVERTED to its pre-edit bytes: the arrival's digest
    exactly matches the HIDDEN chain origin, not the visible edit.
    Hidden copies leave the exact-digest pool, so the revert routes
    through the near-dup probe and supersedes the VISIBLE head — the
    corpus never serves two visible near-identical versions, and a
    stale revert still drops."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )

    ts = lambda m: datetime.datetime(2026, m, 1)  # noqa: E731
    X = _long_text("x")
    X1 = X + " edit1 edit2"
    src = tmp_path / "rev_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "rev_corpus")
    index_path = str(tmp_path / "rev_index")

    def ingest():
        run_streaming_curation(
            spark, str(src), corpus_path, index_path, dedup="keep-newest"
        )

    def visible():
        return {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()}

    _kn_drop_file(spark, tmp_path, src, "batch_a", [(1, X, ts(1))])
    _kn_drop_file(spark, tmp_path, src, "batch_b", [(101, X1, ts(2))])
    _kn_drop_file(spark, tmp_path, src, "batch_c", [(201, X, ts(3))])  # revert
    ingest()
    assert visible() == {201}
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert raw[101].supersedes == 1      # the edit hid the origin
    assert raw[201].supersedes == 101    # the revert hid the EDIT, not 1
    assert raw[201].text == X

    # a stale revert (older than the visible head) drops outright
    _kn_drop_file(spark, tmp_path, src, "batch_d", [(301, X1, ts(2))])
    ingest()
    assert visible() == {201}
    assert 301 not in {r.doc_id for r in spark.read.parquet(corpus_path).collect()}


def test_streaming_keep_newest_null_timestamps_cross_batch(spark, tmp_path):
    """ADVICE r11 (low): null ``fetched_at`` orders LOWEST on both
    sides of the cross-batch strictly-newer comparison, exactly like
    the within-batch struct-max — a dated re-crawl supersedes an
    undated indexed copy, an undated arrival never supersedes, and
    null-vs-null drops as a stale re-delivery."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )

    t2 = datetime.datetime(2026, 2, 1)
    X, Y = _long_text("x"), _long_text("y")
    src = tmp_path / "nts_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "nts_corpus")
    index_path = str(tmp_path / "nts_index")

    def ingest():
        run_streaming_curation(
            spark, str(src), corpus_path, index_path, dedup="keep-newest"
        )

    def visible():
        return {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()}

    # batch A: X undated, Y dated
    _kn_drop_file(spark, tmp_path, src, "batch_a", [(1, X, None), (2, Y, t2)])
    # batch B: a DATED re-crawl of the undated X -> supersedes it;
    # an UNDATED re-crawl of the dated Y -> never strictly newer, drops
    _kn_drop_file(spark, tmp_path, src, "batch_b", [(101, X, t2), (102, Y, None)])
    # batch C: null-vs-null -> drops (not strictly newer)
    _kn_drop_file(spark, tmp_path, src, "batch_c", [(202, Y, None)])
    ingest()
    assert visible() == {101, 2}
    raw = {r.doc_id: r for r in spark.read.parquet(corpus_path).collect()}
    assert set(raw) == {1, 2, 101}
    assert raw[101].supersedes == 1


def test_streaming_keep_newest_null_vs_null_drops(spark, tmp_path):
    """null-vs-null across batches: never strictly newer, so the
    indexed undated copy wins and the undated re-delivery drops."""
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )

    X = _long_text("x")
    src = tmp_path / "nn_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "nn_corpus")
    index_path = str(tmp_path / "nn_index")
    _kn_drop_file(spark, tmp_path, src, "batch_a", [(1, X, None)])
    _kn_drop_file(spark, tmp_path, src, "batch_b", [(101, X, None)])
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, dedup="keep-newest"
    )
    assert {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()} == {1}


def test_streaming_keep_newest_rejects_cross_batch_doc_id_reuse(spark, tmp_path):
    """ADVICE r11 (medium): the keep-newest replay-safety exclusion
    assumes globally unique doc_ids — an id REUSED across batches
    would silently bypass both probes and land duplicate visible rows
    under one id.  The contract is enforced, loudly, before anything
    is written."""
    import datetime

    import pytest

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation

    X, Z = _long_text("x"), _long_text("z")
    src = tmp_path / "reuse_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "reuse_corpus")
    index_path = str(tmp_path / "reuse_index")
    _kn_drop_file(
        spark, tmp_path, src, "batch_a", [(1, X, datetime.datetime(2026, 1, 1))]
    )
    _kn_drop_file(
        spark, tmp_path, src, "batch_b", [(1, Z, datetime.datetime(2026, 2, 1))]
    )
    with pytest.raises(Exception, match="globally unique"):
        run_streaming_curation(
            spark, str(src), corpus_path, index_path, dedup="keep-newest"
        )
    # nothing from the offending batch reached the corpus
    ids = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
    assert ids == {1}
    texts = {r.text for r in spark.read.parquet(corpus_path).collect()}
    assert texts == {X}


def test_streaming_near_dup_keep_newest_recuts_face(spark, tmp_path):
    """keep-newest x paragraphs for the NEAR-DUP path: an edited
    re-crawl's face is RE-CUT (content differs — inheritance would
    serve the stale text), with the hidden predecessor's segment
    attributions retired from the probe view so the edit's UNCHANGED
    paragraphs survive under the new id instead of scrubbing as
    cross-batch dups of a row nobody can see; a fresh doc quoting the
    content still gets its quote cut; chain RTBF erases face,
    segments, and corpus rows together."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        read_corpus_asof,
        run_streaming_curation,
    )

    ts = lambda m: datetime.datetime(2026, m, 1)  # noqa: E731
    X = _long_text("x")                       # 30 tokens -> 6 segments
    first_seg = " ".join(X.split()[:5])
    # the edit keeps X's 6 segments and appends a full new one
    X1 = X + " " + " ".join(f"n{i}" for i in range(5))
    B = first_seg + " " + " ".join(f"b{i}" for i in range(25))
    src = tmp_path / "ndp_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "ndp_corpus")
    index_path = str(tmp_path / "ndp_index")

    def ingest():
        run_streaming_curation(
            spark, str(src), corpus_path, index_path,
            dedup="keep-newest", paragraphs=True,
        )

    _kn_drop_file(spark, tmp_path, src, "batch_a", [(1, X, ts(1))])
    _kn_drop_file(spark, tmp_path, src, "batch_b", [(101, X1, ts(2)), (700, B, ts(2))])
    ingest()

    clean = {r.doc_id: r for r in spark.read.parquet(corpus_path + "_clean").collect()}
    assert set(clean) == {1, 101, 700}
    # the superseder's face was RE-CUT from its own (edited) text:
    # every predecessor segment survives under the new id, plus the
    # new paragraph — NOT an empty face, NOT the predecessor's text
    assert clean[101].n_segments == 7 and clean[101].n_kept == 7
    assert clean[101].kept_text == X1
    # the fresh quoting doc still gets the quote cut (the re-cut
    # superseder wins the segment within-batch: min (doc_id, seg_idx))
    assert clean[700].n_dup == 1 and first_seg not in clean[700].kept_text
    # visible corpus agrees
    assert {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()} == {101, 700}

    # replay no-op for the re-cut face
    before = sorted(map(str, spark.read.parquet(corpus_path + "_clean").collect()))
    ingest()
    assert sorted(map(str, spark.read.parquet(corpus_path + "_clean").collect())) == before

    # chain RTBF: naming the superseder erases the whole chain's
    # faces, segments, digests, and corpus rows
    report = forget_documents(spark, corpus_path, index_path, [101])
    assert report["doc_ids"] == [1, 101]
    for sfx in ("", "_clean", "_segindex", "_digests"):
        left = {r.doc_id for r in spark.read.parquet(corpus_path + sfx).collect()}
        assert left == {700}, sfx


def test_read_corpus_asof_markers_come_from_the_digests_table(spark, tmp_path):
    """VERDICT r11 #3 done-criterion: the CURRENT view's superseded-id
    markers are read from the narrow ``<corpus>_digests`` table (the
    plan's anti-join build side scans the digests relation, not a
    second corpus scan); historical watermarks keep the corpus-derived
    windowed markers (digests compaction folds the window axis away,
    the corpus never compacts)."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )

    X = _long_text("x")
    src = tmp_path / "mk_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "mk_corpus")
    index_path = str(tmp_path / "mk_index")
    _kn_drop_file(spark, tmp_path, src, "a", [(1, X, datetime.datetime(2026, 1, 1))])
    _kn_drop_file(spark, tmp_path, src, "b", [(101, X, datetime.datetime(2026, 2, 1))])
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, dedup="keep-newest"
    )

    cur = read_corpus_asof(spark, corpus_path)
    assert {r.doc_id for r in cur.collect()} == {101}
    # the anti-join's build side is the digests relation (its `digest`
    # column is the tell — the corpus relation has no such column);
    # optimizedPlan's toString elides file paths, so pin the schema
    plan = cur._jdf.queryExecution().optimizedPlan().toString()
    assert "digest#" in plan
    # historical watermark: windowed corpus markers, no digests scan
    hist = read_corpus_asof(spark, corpus_path, 0)
    assert {r.doc_id for r in hist.collect()} == {1}
    assert "digest#" not in hist._jdf.queryExecution().optimizedPlan().toString()


def test_forget_documents_expand_chains_off_restores_single_row_erase(spark, tmp_path):
    """``expand_chains=False`` pins the r11 single-row semantics: the
    marker vanishes with the superseder's row and the predecessor
    RESURRECTS — the documented reason expansion defaults on."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        forget_documents,
        read_corpus_asof,
        run_streaming_curation,
    )

    X = _long_text("x")
    src = tmp_path / "nexp_incoming"
    src.mkdir()
    corpus_path = str(tmp_path / "nexp_corpus")
    index_path = str(tmp_path / "nexp_index")
    _kn_drop_file(spark, tmp_path, src, "a", [(1, X, datetime.datetime(2026, 1, 1))])
    _kn_drop_file(spark, tmp_path, src, "b", [(101, X, datetime.datetime(2026, 2, 1))])
    run_streaming_curation(
        spark, str(src), corpus_path, index_path, dedup="keep-newest"
    )
    assert {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()} == {101}

    report = forget_documents(
        spark, corpus_path, index_path, [101], expand_chains=False
    )
    assert report["doc_ids"] == [101]
    # the predecessor resurrects: same bytes, old id, visible again
    vis = {r.doc_id: r.text for r in read_corpus_asof(spark, corpus_path).collect()}
    assert vis == {1: X}


#: Spark jobs one two-batch run of the budget test below may launch,
#: per dedup mode: the largest count measured over repeated runs (4
#: local cores, 8 shuffle partitions).  A budget only goes down.  A lazy
#: relation re-planned once per consumer shows up here as dozens of
#: extra jobs; a driver-side id set built as anything but a local
#: relation shows up as a job per broadcast.
STREAM_JOB_BUDGET = {"keep-newest": 71, "keep-first": 47}


@pytest.mark.parametrize("dedup", ["keep-newest", "keep-first"])
def test_streaming_curation_job_budget_and_cache_ownership(spark, tmp_path, dedup):
    """Per-run Spark job budget and cache ownership for the two-batch
    stream with stats and paragraphs: batch b carries an exact re-crawl
    of one batch-a document, a near-dup edit of another and one fresh
    document.  Jobs are counted the way the benchmark counts them: the
    run id a StreamingQueryListener records is the stream's job group.
    That count equals every job the session ran meanwhile, so no job a
    micro-batch starts (its append threads' included) escapes the group.
    Every cache a micro-batch creates is released by the end of it."""
    import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        read_corpus_asof,
        run_streaming_curation,
    )

    run_ids: list[str] = []
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    jobs_at_start: list[int] = []

    class RunIds(StreamingQueryListener):
        def onQueryStarted(self, event):
            # called synchronously by start(), before the first batch
            run_ids.append(str(event.runId))
            jobs_at_start.append(dag.numTotalJobs())

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    ts = lambda m: datetime.datetime(2026, m, 1)  # noqa: E731
    X, Y, Z = _long_text("x"), _long_text("y"), _long_text("z")
    src = tmp_path / "budget_incoming"
    src.mkdir()
    _kn_drop_file(spark, tmp_path, src, "batch_a", [(1, X, ts(1)), (2, Y, ts(1))])
    _kn_drop_file(
        spark, tmp_path, src, "batch_b",
        [(101, X, ts(2)), (102, Y + " edit1 edit2", ts(2)), (3, Z, ts(2))],
    )
    corpus_path = str(tmp_path / "budget_corpus")
    spark.catalog.clearCache()
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        run_streaming_curation(
            spark, str(src), corpus_path, str(tmp_path / "budget_index"),
            stats=True, paragraphs=True, dedup=dedup,
        )
    finally:
        spark.streams.removeListener(listener)
    jobs_run = dag.numTotalJobs() - jobs_at_start[0]
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    (run_id,) = run_ids
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(run_id))
    assert n_jobs == jobs_run, (n_jobs, jobs_run)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    visible = {r.doc_id for r in read_corpus_asof(spark, corpus_path).collect()}
    assert visible == ({101, 102, 3} if dedup == "keep-newest" else {1, 2, 3})
    assert n_jobs <= STREAM_JOB_BUDGET[dedup], n_jobs
