"""Reference-format sinks and the end-to-end runner."""

import glob
import json
import math
import os
import random
import subprocess
import sys
from pathlib import Path

import pytest

from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts
from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import semantic_similarity_pipeline
from semantic_similarity_system_using_aws_mapreduce_spark.sources.biarcs import read_biarcs, token_emissions
from semantic_similarity_system_using_aws_mapreduce_spark.sources.sinks import (
    ARFF_ATTRIBUTES,
    write_arff,
    write_assoc_text,
    write_counts_text,
    write_pair_vectors_text,
)

from reference_oracle import (
    assoc_measures,
    is_reference,
    load_gold,
    pair_vectors,
    reference_input,
    step1_counts,
)
from test_cache_contract import _cache_empty

REPO = Path(__file__).resolve().parents[1]
SMALL_SAMPLE = reference_input("/root/reference/small-sample.txt")
GOLD_SMALL = reference_input("/root/reference/test_gold_standard.txt")
GOLD_FULL = reference_input("/root/reference/word-relatedness.txt")
#: the reference's sample and gold list: 331 vectors for the two
ON_REFERENCE = is_reference(SMALL_SAMPLE) and is_reference(GOLD_FULL)


def _oracle_vector_count(corpus, gold):
    counts, total = step1_counts(open(corpus).read().splitlines())
    return len(pair_vectors(assoc_measures(counts, total), load_gold(gold)))


def _read_text_dir(path):
    lines = []
    for part in glob.glob(f"{path}/part-*"):
        if part.endswith(".crc"):
            continue
        lines.extend(open(part).read().splitlines())
    return lines


def test_counts_text_format(spark, tmp_path):
    counts = corpus_counts(token_emissions(read_biarcs(spark, SMALL_SAMPLE)))
    out = tmp_path / "counts"
    write_counts_text(counts, str(out))
    lines = set(_read_text_dir(out))
    oracle, _ = step1_counts(open(SMALL_SAMPLE).read().splitlines())
    expected = set()
    for key, v in oracle.items():
        if key[0] == "l":
            expected.add(f"l {key[1]}\t{v}")
        elif key[0] == "f":
            expected.add(f"f {key[1]}\t{v}")
        else:
            expected.add(f"lf {key[1]} {key[2]}\t{v}")
    assert lines == expected


def test_assoc_text_java_double_format(spark, tmp_path):
    r = semantic_similarity_pipeline(spark, SMALL_SAMPLE, GOLD_SMALL, mode="parity")
    out = tmp_path / "assoc"
    write_assoc_text(r.assoc, str(out))
    lines = _read_text_dir(out)
    assert lines
    sample = {l.split("\t")[0]: l.split("\t")[1] for l in lines}
    # JVM Double.toString formatting: "70.0" not "70", shortest decimal
    val = sample['"^ i-nn']
    assert val.startswith("assoc_freq=70.0 assoc_prob=0.8333333333333334")


def test_pair_vectors_text_and_arff(spark, tmp_path):
    r = semantic_similarity_pipeline(spark, SMALL_SAMPLE, GOLD_SMALL, mode="parity")
    out = tmp_path / "pv"
    write_pair_vectors_text(r.vectors, str(out))
    lines = _read_text_dir(out)
    assert len(lines) == 4
    key, val = lines[0].split("\t")
    assert key.split(" ")[2] in ("True", "False")
    assert val.startswith("[") and val.endswith("]") and len(val.split(", ")) == 24

    arff = tmp_path / "out.arff"
    write_arff(r.vectors, str(arff))
    content = open(arff).read().splitlines()
    assert content[0] == "@relation semantic_similarity"
    attr_lines = [l for l in content if l.startswith("@attribute ")]
    assert len(attr_lines) == 25  # 24 numeric + class
    assert attr_lines[0] == "@attribute freq_distManhattan numeric"
    assert attr_lines[-1] == "@attribute class {similar, not-similar}"
    data = content[content.index("@data") + 1 :]
    assert len([l for l in data if l]) == 4
    assert all(l.endswith(("similar", "not-similar")) for l in data if l)


def test_runner_cli(tmp_path):
    """Full job-flow equivalent through the real CLI (subprocess)."""
    out = tmp_path / "run"
    proc = subprocess.run(
        [
            sys.executable, "-m", "semantic_similarity_system_using_aws_mapreduce_spark.run_pipeline",
            SMALL_SAMPLE, GOLD_FULL, str(out),
            "--mode", "parity", "--folds", "3", "--trees", "10", "--text-dumps",
        ],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["n"] == _oracle_vector_count(SMALL_SAMPLE, GOLD_FULL)
    if ON_REFERENCE:
        assert metrics["n"] == 331
    report = open(out / "report.txt").read()
    assert "RandomForest" in report and "Confusion Matrix" in report
    for artifact in [
        "pair_counts.parquet", "pair_vectors.parquet", "counts_text",
        "assoc_text", "pair_vectors_text", "pair_vectors.arff", "report.txt",
    ]:
        assert (out / artifact).exists(), artifact


def _tiny_inputs(tmp_path):
    """A seeded corpus and gold list in the line shapes of
    test_pair_vector_properties: every pair of its six words, so the run
    yields 15 vectors of both classes."""
    rng = random.Random(3)
    words = ["aa", "bb", "cc", "dd", "ee", "ff"]
    lines = []
    for _ in range(40):
        n = rng.randint(1, 3)
        toks = [
            f"{rng.choice(words)}/NN/{rng.choice(['d1', 'd2'])}/{rng.randint(0, n)}"
            for _ in range(n)
        ]
        count = rng.randint(1, 4)
        lines.append(f"h\t{' '.join(toks)}\t{count}\t2000,{count}")
    pairs = [(a, b) for i, a in enumerate(words) for b in words[i + 1 :]]
    corpus, gold = tmp_path / "corpus.txt", tmp_path / "gold.txt"
    corpus.write_text("\n".join(lines) + "\n")
    gold.write_text("".join(f"{a}\t{b}\t{k % 3 == 0}\n" for k, (a, b) in enumerate(pairs)))
    return lines, corpus, gold


def test_runner_end_to_end(spark, tmp_path):
    """run() on a tiny corpus: vectors equal the oracle's, the report
    counts them, every stage's output is complete, every job the run
    starts (worker threads included) is in the caller's job group, and
    nothing stays cached."""
    from semantic_similarity_system_using_aws_mapreduce_spark.run_pipeline import run
    from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS

    lines, corpus, gold = _tiny_inputs(tmp_path)
    out = tmp_path / "run"
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()

    def job_ids():
        jvm_sc.listenerBus().waitUntilEmpty(30_000)
        jobs = jvm_sc.statusStore().jobsList(None)  # a Scala Seq
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    spark.catalog.clearCache()
    before = job_ids()
    sc.setJobGroup("g", "runner end-to-end")
    try:
        metrics = run(spark, str(corpus), str(gold), str(out), mode="parity", folds=3, trees=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = job_ids() - before
    assert started and started <= set(sc.statusTracker().getJobIdsForGroup("g"))
    assert _cache_empty(spark)

    counts, total = step1_counts(lines)
    expected = pair_vectors(
        assoc_measures(counts, total, mode="parity"), load_gold(gold), mode="parity",
        js_reset_quirk=False,
    )
    rows = spark.read.parquet(str(out / "pair_vectors.parquet")).collect()
    got = {(r.word1, r.word2, r.is_related): [r[c] for c in VECTOR_COLUMNS] for r in rows}
    assert len(rows) == len(got) == len(expected) == 15
    assert {r.is_related for r in rows} == {True, False}
    for key, exp in expected.items():
        assert all(
            math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-12) for g, e in zip(got[key], exp)
        ), key
    assert metrics["n"] == len(rows)
    assert f"Total Number of Instances         {len(rows)}" in (out / "report.txt").read_text()
    for stage in ["emissions", "assoc", "pair_counts", "lexeme_counts", "feature_counts",
                  "pair_vectors"]:
        assert (out / f"{stage}.parquet" / "_SUCCESS").exists(), stage


def test_runner_fails_when_a_side_write_fails(spark, tmp_path, monkeypatch):
    """A count-table write runs on a worker thread; its error fails the
    run, and the run still releases what it cached."""
    from pyspark.sql.readwriter import DataFrameWriter

    from semantic_similarity_system_using_aws_mapreduce_spark.run_pipeline import run

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path.endswith("lexeme_counts.parquet"):
            raise OSError("no space left on device")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    _, corpus, gold = _tiny_inputs(tmp_path)
    spark.catalog.clearCache()
    with pytest.raises(OSError, match="no space left"):
        run(spark, str(corpus), str(gold), str(tmp_path / "run"), mode="parity", folds=3, trees=5)
    assert _cache_empty(spark)


def test_pipeline_resume_skips_completed_stages(spark, tmp_path):
    """resume=True must reuse existing stage checkpoints — proven by
    poisoning the corpus after the first run: the resumed run still
    answers from the checkpoints (the full corpus's vector count), while
    a non-resume run re-reads the poisoned corpus and yields fewer."""
    import shutil

    from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import semantic_similarity_pipeline

    corpus = tmp_path / "corpus.txt"
    shutil.copy(SMALL_SAMPLE, corpus)
    gold = GOLD_FULL
    ck = str(tmp_path / "ck")
    n_full = _oracle_vector_count(corpus, gold)
    if ON_REFERENCE:
        assert n_full == 331

    first = semantic_similarity_pipeline(
        spark, str(corpus), gold, mode="parity", checkpoint_dir=ck
    )
    assert first.vectors.count() == n_full
    first.unpersist()

    # poison the corpus: keep only the first 10 lines
    lines = corpus.read_text().splitlines()[:10]
    corpus.write_text("\n".join(lines) + "\n")

    resumed = semantic_similarity_pipeline(
        spark, str(corpus), gold, mode="parity", checkpoint_dir=ck, resume=True
    )
    assert resumed.vectors.count() == n_full  # checkpoints, not the poisoned file
    resumed.unpersist()

    fresh = semantic_similarity_pipeline(
        spark, str(corpus), gold, mode="parity", checkpoint_dir=ck
    )
    assert fresh.vectors.count() < n_full  # non-resume recomputes
    fresh.unpersist()


def test_bench_dry_run(tmp_path):
    """bench.py --dry analyzes every benched query's plan (no
    execution) and exits 0 — catches the BENCH_r02 failure class (one
    AnalysisException zeroing the round's bench) before the driver
    runs the real thing."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "bench.py", "--dry"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["dry"] is True
    assert out.get("errors") is None
    import bench

    assert out["analyzed"] == len(bench.HEADLINE) + len(bench.EXTRA)


def test_bench_loaded_host_flag_rides_both_outputs():
    """Quiet-host gate (VERDICT r9 #4, hardened r11 per VERDICT r10
    #2): a run started above EITHER loadavg horizon is flagged
    "loaded": true — the 5m horizon catches the just-hammered host
    whose 1m has decayed (r10's committed 'quiet' run: 1m 0.08,
    5m 2.49) — a wide max/min run spread flags "noisy", the flags
    survive the compact printed line at every folding level, and a
    genuinely quiet start stays unflagged."""
    import bench

    assert not bench._loaded_reasons({"loadavg_1m": 0.1, "loadavg_5m": 0.2})
    assert not bench._loaded_reasons({})
    assert not bench._loaded_reasons(None)
    assert bench._loaded_reasons({"loadavg_1m": bench.LOADED_LOADAVG_1M + 0.01})
    # the r10 trap: 1m-quiet but 5m-busy must flag
    assert bench._loaded_reasons(
        {"loadavg_1m": 0.08, "loadavg_5m": bench.LOADED_LOADAVG_5M + 0.49}
    )
    # mid-run interference: a >2x max/min spread flags that config,
    # carrying the minimum's reproducibility (second-best / best) so
    # a single-spiked-run flag stays distinguishable from a run whose
    # minimum itself is untrustworthy
    assert bench._noisy_spreads({"p1M": [8.69, 24.48, 9.1]}) == {
        "p1M": {"spread": 2.82, "min2_over_min": 1.047}
    }
    assert not bench._noisy_spreads({"p1M": [8.0, 9.5, 8.3]})
    assert not bench._noisy_spreads({"one_run": [8.0], "zero": [0.0, 1.0]})
    full = {
        "metric": "m", "value": 1.0, "unit": "sec",
        "queries": {f"q{i}": 0.5 for i in range(40)},
        "extra_queries": {f"e{i}": 0.5 for i in range(60)},
        "pipeline": {}, "pipeline_median": {f"p{i}": 1.0 for i in range(20)},
        "pipeline_runs": {}, "pipeline_env": {},
        "load_start": {"loadavg_1m": 7.0}, "load_end": {"loadavg_1m": 8.0},
        "runs_per_query": 3, "sf": 0.1, "loaded": True,
        "noisy": {"pipeline_1000000_lines": {"spread": 2.82, "min2_over_min": 1.047}},
    }
    line = bench._compact_line(full)
    assert len(line) <= 1900
    assert json.loads(line)["loaded"] is True
    assert json.loads(line)["noisy"] == {
        "pipeline_1000000_lines": {"spread": 2.82, "min2_over_min": 1.047}
    }


def test_run_curation_funnel_contract(spark, tmp_path):
    """End-to-end curation CLI: quality gate, exact + near dedup,
    decontamination, leakage-safe splits and shard layout compose into
    one deterministic run whose manifest accounts for every input row
    exactly once."""
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    def text(seed, n=30):
        return " ".join(f"{seed}{i}" for i in range(n))

    rows = (
        [(i, text(f"w{i}_")) for i in range(20)]            # unique docs
        + [(100, text("dup_")), (101, text("dup_"))]        # exact dup pair
        + [(200, "too short")]                              # quality drop
        + [(300, " ".join(["rep"] * 40))]                   # ttr drop
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = spark.createDataFrame([(9000, text("w3_"))], "doc_id long, text string")

    out = str(tmp_path / "curated")
    manifest = curate(
        spark, docs, out, eval_docs=eval_docs, min_tokens=24, min_ttr=0.35,
        shard_budget=128,
    )

    funnel = manifest["funnel"]
    assert manifest["n_input"] == len(rows) == sum(funnel.values())
    assert funnel["quality"] == 2
    assert funnel["exact_dup"] == 1          # 101 drops, 100 survives
    assert funnel["contaminated"] >= 1       # doc 3 matches the eval doc
    assert manifest["n_kept"] == funnel["kept"]

    kept = spark.read.parquet(f"{out}/curated.parquet")
    assert kept.count() == funnel["kept"]
    assert set(kept.columns) >= {"doc_id", "text", "group_id", "split"}
    # no duplicate content among survivors
    assert kept.select(F.md5("text")).distinct().count() == kept.count()
    # rejects carry their drop stage; every input row lands somewhere
    rejects = spark.read.parquet(f"{out}/rejects.parquet")
    assert rejects.count() + kept.count() == len(rows)
    assert set(r.drop_stage for r in rejects.collect()) >= {"quality", "exact_dup"}
    # shards exist and respect the split partitioning
    assert manifest["shards"]
    assert {s["stratum"] for s in manifest["shards"]} <= {"train", "val", "test"}
    # determinism: a second run reproduces the same funnel
    manifest2 = curate(
        spark, docs, str(tmp_path / "curated2"), eval_docs=eval_docs,
        min_tokens=24, min_ttr=0.35, shard_budget=128,
    )
    assert manifest2["funnel"] == funnel


def test_run_ingest_cli_end_to_end(spark, tmp_path):
    """The streaming-ingest CLI drives the whole lifecycle in-process:
    ingest (incremental across two invocations), versions, asof
    materialization, and forget — each verb printing machine-readable
    JSON and leaving the documented OUTDIR layout."""
    from test_streaming import _drop_batch_file, _long_text

    from semantic_similarity_system_using_aws_mapreduce_spark.run_ingest import main

    long_text = _long_text
    src = tmp_path / "cli_incoming"
    src.mkdir()

    def drop_file(name, rows):
        _drop_batch_file(spark, tmp_path, src, name, rows)

    outdir = str(tmp_path / "cli_out")
    drop_file("b0", [(1, long_text("a")), (2, "too short")])
    assert main(["ingest", str(src), outdir, "--stats"]) == 0

    # second invocation picks up only the new file (shared checkpoint)
    drop_file("b1", [(11, long_text("a")), (12, long_text("b"))])  # 11 dups 1
    assert main(["ingest", str(src), outdir, "--stats"]) == 0

    corpus = spark.read.parquet(f"{outdir}/corpus")
    assert {r.doc_id for r in corpus.collect()} == {1, 12}
    stats = spark.read.parquet(f"{outdir}/corpus_stats")
    assert stats.count() == 2

    assert main(["versions", outdir]) == 0
    snap_out = str(tmp_path / "cli_snap")
    assert main(["asof", outdir, "--batch", "0", "--out", snap_out]) == 0
    assert {r.doc_id for r in spark.read.parquet(snap_out).collect()} == {1}

    assert main(["forget", outdir, "--doc-ids", "1"]) == 0
    assert {r.doc_id for r in spark.read.parquet(f"{outdir}/corpus").collect()} == {12}


def test_curation_cli_reads_orc(spark, tmp_path):
    """--format orc: the columnar sibling of parquet, read natively —
    the funnel result must match the parquet run on the same rows."""
    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(30)), "en", "s") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    orc_path = str(tmp_path / "docs_orc")
    docs.write.orc(orc_path)

    out = str(tmp_path / "orc_out")
    report = curate(spark, spark.read.orc(orc_path), out, shards=False)
    assert report["n_input"] == 30
    curated = spark.read.parquet(f"{out}/curated.parquet")
    assert curated.count() == report["n_kept"] > 0


def test_run_ingest_cli_manifest_mode(spark, tmp_path, monkeypatch):
    """--atomic-mode manifest: the CLI lifecycle under the
    object-store-safe protocol — ingest twice, forget, and the corpus
    never lives at a bare path a non-atomic rename would have to
    swap."""
    import os

    from test_streaming import _drop_batch_file, _long_text

    from semantic_similarity_system_using_aws_mapreduce_spark.run_ingest import main
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.atomic import (
        read_parquet_recovering,
    )

    monkeypatch.delenv("SPARK_GRAFT_ATOMIC_MODE", raising=False)
    src = tmp_path / "mcli_incoming"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("a"))])
    outdir = str(tmp_path / "mcli_out")
    try:
        assert main(["ingest", str(src), outdir, "--atomic-mode", "manifest"]) == 0
        _drop_batch_file(spark, tmp_path, src, "b1", [(11, _long_text("a"))])  # dup
        _drop_batch_file(spark, tmp_path, src, "b2", [(21, _long_text("b"))])
        assert main(["ingest", str(src), outdir, "--atomic-mode", "manifest"]) == 0
        corpus_path = f"{outdir}/corpus"
        assert os.path.isfile(corpus_path + ".__manifest__")
        assert not os.path.isdir(corpus_path)
        corpus = read_parquet_recovering(spark, corpus_path, mode="manifest")
        assert {r.doc_id for r in corpus.collect()} == {1, 21}
        assert (
            main(
                ["forget", outdir, "--doc-ids", "1", "--atomic-mode", "manifest"]
            )
            == 0
        )
        corpus = read_parquet_recovering(spark, corpus_path, mode="manifest")
        assert {r.doc_id for r in corpus.collect()} == {21}
    finally:
        os.environ.pop("SPARK_GRAFT_ATOMIC_MODE", None)


def test_run_ingest_cli_search(spark, tmp_path, capsys):
    """ingest --postings then the search verb: ranked JSON results
    from the streamed index; a corpus ingested WITHOUT --postings
    reports the actionable error instead of a traceback."""
    import json as _json

    from test_streaming import _drop_batch_file, _long_text

    from semantic_similarity_system_using_aws_mapreduce_spark.run_ingest import main

    src = tmp_path / "srch_incoming"
    src.mkdir()
    _drop_batch_file(spark, tmp_path, src, "b0", [(1, _long_text("alpha"))])
    _drop_batch_file(spark, tmp_path, src, "b1", [(11, _long_text("beta") + " alpha0")])
    outdir = str(tmp_path / "srch_out")
    assert main(["ingest", str(src), outdir, "--postings"]) == 0
    capsys.readouterr()

    assert main(["search", outdir, "--query", "alpha0 alpha1", "--topk", "2"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ranked = [(r["rank"], r["doc_id"]) for r in out["results"] if r["q_id"] == 0]
    assert ranked == [(1, 1), (2, 11)]

    # no postings index -> error JSON, exit 1
    outdir2 = str(tmp_path / "srch_out2")
    src2 = tmp_path / "srch_incoming2"
    src2.mkdir()
    _drop_batch_file(spark, tmp_path, src2, "b0", [(5, _long_text("x"))])
    assert main(["ingest", str(src2), outdir2]) == 0
    capsys.readouterr()
    assert main(["search", outdir2, "--query", "x0"]) == 1
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err


def test_run_ingest_cli_warc_format_and_titled_search(spark, tmp_path, capsys):
    """The full round-9 crawl story at the CLI: ingest --format warc
    drains a .warc.gz archive through the streaming curation funnel
    (HTTP decode, extraction, gates, dedup), --postings maintains the
    retrieval index over the crawl docs, and search --snippets
    surfaces the page's <title> prior next to the score."""
    import gzip as _gz
    import json as _json

    from test_streaming import _crawl_doc_id, _http_html, _long_text, _warc_record

    from semantic_similarity_system_using_aws_mapreduce_spark.run_ingest import main

    src = tmp_path / "warc_incoming"
    src.mkdir()
    body = (
        "<html><head><title>Alpha &amp; Omega</title></head><body><p>"
        + _long_text("alpha")
        + "</p></body></html>"
    ).encode()
    (src / "c1.warc.gz").write_bytes(
        _gz.compress(
            _warc_record("cli1", _http_html(body), "http://t.example/page")
        )
    )
    outdir = str(tmp_path / "warc_out")
    assert main(
        ["ingest", str(src), outdir, "--format", "warc", "--postings"]
    ) == 0
    capsys.readouterr()
    assert main(
        ["search", outdir, "--query", "alpha0 alpha1", "--snippets"]
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    (hit,) = [r for r in out["results"] if r["rank"] == 1]
    assert hit["doc_id"] == _crawl_doc_id("cli1")
    assert hit["title"] == "Alpha & Omega"
    assert "alpha0 alpha1" in hit["snippet"]


def test_curation_domain_quota_stage(spark, tmp_path):
    """--domain-quota: the otherwise-kept set is capped per source,
    keeping each source's LONGEST documents; over-quota rows land in
    rejects with their own funnel stage, and every input row is still
    accounted for exactly once."""
    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    def text(seed, n):
        return " ".join(f"{seed}{i}" for i in range(n))

    rows = (
        # hot source: 6 unique docs of increasing length (30..55 toks)
        [(i, text(f"h{i}_", 30 + 5 * i), "hot.com") for i in range(6)]
        + [(100, text("c_", 30), "cold.com")]
        + [(200, "too short", "hot.com")]  # quality drop, not quota's
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = str(tmp_path / "quota_out")
    manifest = curate(
        spark, docs, out, shards=False, domain_quota_k=2,
    )
    funnel = manifest["funnel"]
    assert manifest["n_input"] == len(rows) == sum(funnel.values())
    assert funnel["quality"] == 1
    assert funnel["over_quota"] == 4  # hot.com: 6 survivors -> keep 2
    assert funnel["kept"] == 3  # hot x2 + cold x1
    kept = spark.read.parquet(f"{out}/curated.parquet")
    by_src = {r.source: sorted(x.doc_id for x in kept.filter(kept.source == r.source).collect())
              for r in kept.select("source").distinct().collect()}
    # quality-ordered: the two LONGEST hot docs (ids 4, 5) survive
    assert by_src["hot.com"] == [4, 5]
    assert by_src["cold.com"] == [100]
    rej = spark.read.parquet(f"{out}/rejects.parquet")
    stages = {r.drop_stage for r in rej.collect()}
    assert "over_quota" in stages


def test_curation_gopher_stage(spark, tmp_path):
    """--gopher: the rule gate rejects documents that pass the basic
    min_tokens/TTR quality gate but violate a Gopher rule (the 50-word
    floor, the alpha-word ratio), with its own funnel stage; every
    input row stays accounted for exactly once, and the stage is
    byte-identical to operators/text_analysis.gopher_rules."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import gopher_rules
    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    def prose(seed, n):
        # natural-ish text: distinct alpha words + guaranteed stopwords
        return "the and " + " ".join(f"{seed}word{i}" for i in range(n - 2))

    rows = [
        (1, prose("a", 60), "s1"),          # passes everything
        (2, prose("b", 30), "s1"),          # passes min_tokens=24, fails 50-word floor
        (3, "the and " + " ".join(str(i) * 3 for i in range(58)), "s2"),  # fails alpha ratio
        (4, "too short", "s2"),             # basic quality drop, not gopher's
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = str(tmp_path / "gopher_out")
    manifest = curate(spark, docs, out, shards=False, gopher=True)
    funnel = manifest["funnel"]
    assert manifest["n_input"] == len(rows) == sum(funnel.values())
    assert funnel["quality"] == 1
    assert funnel["gopher"] == 2
    assert funnel["kept"] == 1
    kept = spark.read.parquet(f"{out}/curated.parquet")
    assert [r.doc_id for r in kept.collect()] == [1]
    # stage verdicts == the standalone operator's keep flags
    flags = {r.doc_id: r.keep for r in gopher_rules(docs).collect()}
    assert flags == {1: 1, 2: 0, 3: 0, 4: 0}
    # without the flag, doc 2 and 3 are kept (back-compat: no gopher stage)
    out2 = str(tmp_path / "gopher_off")
    manifest2 = curate(spark, docs, out2, shards=False)
    assert "gopher" not in manifest2["funnel"]
    assert manifest2["funnel"]["kept"] == 3


def test_curation_main_content_strip(spark, tmp_path):
    """--main-content: template furniture is stripped BEFORE every
    gate, so the curated corpus carries main text only — and without
    the flag the same input keeps its template text (the strip is
    opt-in, not a silent rewrite)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    bodies = {
        i: " ".join(f"word{i}x{j} extra{i}y{j}" for j in range(16))
        for i in range(8)
    }
    template = (
        '<html><body><nav><a href="/">Home</a> <a href="/c">Catalog</a></nav>'
        "<p>{body}</p>"
        '<footer><a href="/tos">Terms</a> <a href="/ads">Sponsored</a></footer>'
        "</body></html>"
    )
    docs = spark.createDataFrame(
        [(i, template.format(body=b), "en", f"s{i % 2}", len(b))
         for i, b in bodies.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "mc")
    report = curate(spark, docs, out, shards=False, main_content=True)
    assert report["n_kept"] > 0
    kept = spark.read.parquet(f"{out}/curated.parquet").collect()
    for r in kept:
        assert "Sponsored" not in r.text and "Catalog" not in r.text
        assert "<nav>" not in r.text and "word" in r.text
    # control: without the flag the template text survives into `text`
    out2 = str(tmp_path / "plain")
    curate(spark, docs, out2, shards=False)
    kept2 = spark.read.parquet(f"{out2}/curated.parquet").collect()
    assert any("Sponsored" in r.text for r in kept2)


def test_curation_lang_id_stage_consumes_html_lang_prior(spark, tmp_path):
    """--lang-id: null lang labels are filled by identify_language,
    consuming the crawl path's declared html_lang prior when the
    column exists (declaration wins on weak statistics, strong
    statistics override); labeled rows keep their label."""
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    # per-doc filler: sharing one filler would make the docs near-dups
    # of each other and the funnel would (correctly) keep one rep
    def filler(i):
        return " ".join(f"w{i}x{j} u{i}y{j} v{i}z{j}" for j in range(12))

    rows = [
        # weak stats ('le' once) + declared en -> prior wins
        (1, f"le weekend shopping list {filler(1)}", None, "s0", "en-US"),
        # unambiguous German declared en -> statistics override
        (2, "der hund ist ein tier und das ist gut " * 4 + filler(2),
         None, "s0", "en"),
        # labeled row: the label survives untouched
        (3, f"the cat is on the mat {filler(3)}", "zh", "s1", "en"),
        # no declaration -> pure heuristic
        (4, "le chat est dans la maison pour que " * 3 + filler(4),
         None, "s1", None),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " html_lang string",
    )
    out = str(tmp_path / "langid")
    report = curate(spark, docs, out, shards=False, min_ttr=0.1, lang_id=True)
    assert report["n_kept"] == 4
    kept = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{out}/curated.parquet").collect()
    }
    assert kept[1] == "en"  # declaration beats one stray stopword
    assert kept[2] == "de"  # strong statistics override declaration
    assert kept[3] == "zh"  # labels are never overwritten
    assert kept[4] == "fr"  # heuristic fallback without a declaration
    # without a prior column the flag still fills labels (pure
    # heuristic) — the stage doesn't require crawl-shaped input
    out2 = str(tmp_path / "langid_noprior")
    curate(
        spark, docs.drop("html_lang"), out2, shards=False, min_ttr=0.1,
        lang_id=True,
    )
    kept2 = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{out2}/curated.parquet").collect()
    }
    assert kept2[1] == "fr" and kept2[2] == "de" and kept2[3] == "zh"


def test_curation_mojibake_gate(spark, tmp_path):
    """The n_repl column the WARC charset decode emits is actually
    CONSUMED: a page whose U+FFFD density exceeds the threshold lands
    in the funnel's mojibake stage; clean pages with the same shape
    pass; inputs without the column are unaffected."""
    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import curate

    def doc(i, n_repl):
        text = " ".join(f"tok{i}a{j} tok{i}b{j}" for j in range(16))
        return (i, text, "en", "s0", len(text), n_repl)

    docs = spark.createDataFrame(
        [doc(0, 0), doc(1, 0), doc(2, 500), doc(3, None)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, n_repl long",
    )
    out = str(tmp_path / "mj")
    report = curate(spark, docs, out, shards=False)
    assert report["funnel"].get("mojibake") == 1
    kept_ids = {
        r.doc_id for r in spark.read.parquet(f"{out}/curated.parquet").collect()
    }
    assert 2 not in kept_ids and {0, 1, 3} <= kept_ids
    rejects = spark.read.parquet(f"{out}/rejects.parquet").collect()
    assert {(r.doc_id, r.drop_stage) for r in rejects} == {(2, "mojibake")}
    # threshold disabled -> everything passes
    out2 = str(tmp_path / "off")
    report2 = curate(spark, docs, out2, shards=False, mojibake_max_permille=None)
    assert "mojibake" not in report2["funnel"]
    # no n_repl column -> gate silently absent
    out3 = str(tmp_path / "plain")
    report3 = curate(
        spark, docs.drop("n_repl"), out3, shards=False
    )
    assert "mojibake" not in report3["funnel"]
