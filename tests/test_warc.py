"""WARC/WET ingestion: synthetic archives (plain + gzip), corrupt
records with resync, truncated tails, the WET->documents projection,
and HTTP body extraction for raw-crawl response records."""

from __future__ import annotations

import gzip
import hashlib

from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import (
    WARC_SCHEMA,
    parse_warc_records,
    read_warc,
    response_bodies,
    wet_documents,
)


def _record(
    rec_id: str,
    warc_type: str,
    payload: bytes,
    uri: str | None = None,
    ctype: str = "text/plain",
    date: str = "2026-01-01T00:00:00Z",
) -> bytes:
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + rec_id.encode() + b">",
        b"WARC-Date: " + date.encode(),
    ]
    if uri:
        headers.append(b"WARC-Target-URI: " + uri.encode())
    headers += [
        b"Content-Type: " + ctype.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _wet_archive() -> bytes:
    return (
        _record("info0", "warcinfo", b"software: test\r\n")
        + _record(
            "aaa1", "conversion", "first doc text".encode(), "http://example.com/a"
        )
        + _record(
            "bbb2", "conversion", "second doc étail".encode(), "https://other.org/b/c"
        )
    )


def _http_payload(body: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )


def test_parse_records_and_resync_quarantine():
    good = _record("aaa1", "conversion", b"hello world", "http://example.com/a")
    # a record whose Content-Length is garbage, then a clean record:
    # the parser must quarantine and pick up the next one
    broken = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Record-ID: <urn:uuid:bad>\r\nContent-Length: NOPE\r\n\r\n"
    )
    tail = _record("ccc3", "conversion", b"after the wreck", "http://example.com/c")
    import io

    recs = list(
        parse_warc_records(io.BytesIO(good + broken + tail), "f.warc")
    )
    assert [r[8] for r in recs] == [False, True, False]  # corrupt flags
    assert recs[0][6] == b"hello world"
    assert recs[2][6] == b"after the wreck"
    # truncated tail: payload shorter than declared length -> one
    # corrupt-flagged partial record, parser stops cleanly
    cut = good[: len(good) - 8]
    recs = list(parse_warc_records(io.BytesIO(cut), "f.warc"))
    assert len(recs) == 1 and recs[0][8] is True


def test_read_warc_plain_and_gzip(spark, tmp_path):
    raw = _wet_archive()
    (tmp_path / "a.warc").write_bytes(raw)
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(raw))
    df = read_warc(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 6  # 3 records x 2 archives
    by_type = {}
    for r in rows:
        by_type.setdefault(r.warc_type, 0)
        by_type[r.warc_type] += 1
    assert by_type == {"warcinfo": 2, "conversion": 4}
    assert all(not r.corrupt for r in rows)
    conv = [r for r in rows if r.warc_type == "conversion"]
    assert {bytes(r.payload).decode() for r in conv} == {
        "first doc text",
        "second doc étail",
    }
    assert {r.target_uri for r in conv} == {
        "http://example.com/a",
        "https://other.org/b/c",
    }


def test_wet_documents_projection(spark, tmp_path):
    (tmp_path / "a.warc.gz").write_bytes(gzip.compress(_wet_archive()))
    docs, rejects = wet_documents(read_warc(spark, str(tmp_path)))
    rows = {r.source: r for r in docs.collect()}
    assert rejects.count() == 0
    assert set(rows) == {"example.com", "other.org"}
    r = rows["example.com"]
    assert r.text == "first doc text"
    assert r.n_chars == len("first doc text")
    assert r.lang is None
    # doc_id is the portable 60-bit md5 of the record id (same
    # arithmetic as operators/dedup.md5_int)
    rid = "<urn:uuid:aaa1>"
    assert r.doc_id == int(hashlib.md5(rid.encode()).hexdigest()[:15], 16)
    # the projection feeds the documents operators directly
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import identify_language

    assert identify_language(docs).count() == 2


def test_response_bodies_strip_http_headers(spark, tmp_path):
    arch = _record(
        "rrr1",
        "response",
        _http_payload("<html>hi</html>".encode()),
        "http://example.com/p",
        ctype="application/http; msgtype=response",
    ) + _record("rrr2", "response", b"bare body no headers", "http://example.com/q")
    (tmp_path / "r.warc").write_bytes(arch)
    rows = {r.record_id: r for r in response_bodies(read_warc(spark, str(tmp_path))).collect()}
    a = rows["<urn:uuid:rrr1>"]
    assert a.http_status == 200 and a.body == "<html>hi</html>"
    b = rows["<urn:uuid:rrr2>"]
    assert b.http_status is None and b.body == "bare body no headers"


def test_response_charset_declared_in_header(spark, tmp_path):
    """A Latin-1 page declared via the HTTP Content-Type header decodes
    correctly (and through the WHATWG alias: iso-8859-1 labels decode
    as windows-1252, so 0x80 is '€' not a C1 control)."""
    text = "Garçon — café à 5€"
    body = text.encode("cp1252")
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n\r\n"
        + body
    )
    arch = _record("lat1", "response", payload, "http://legacy.example/fr")
    (tmp_path / "l.warc").write_bytes(arch)
    row = response_bodies(read_warc(spark, str(tmp_path))).collect()[0]
    assert row.body == text
    assert row.charset == "windows-1252"
    assert row.n_repl == 0


def test_response_charset_declared_in_meta_tag(spark, tmp_path):
    """A Shift-JIS page declaring its charset only in the HTML meta tag
    decodes correctly, end-to-end through warc_text_documents."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import warc_text_documents

    jp = "日本語のテキストです。文字化けしません。"
    html = f'<html><head><meta charset="shift_jis"></head><body><p>{jp}</p></body></html>'
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        + html.encode("shift_jis")
    )
    arch = _record("sjis", "response", payload, "http://jp.example/p")
    (tmp_path / "j.warc").write_bytes(arch)
    records = read_warc(spark, str(tmp_path))
    row = response_bodies(records).collect()[0]
    assert row.charset == "Shift_JIS" and row.n_repl == 0
    assert jp in row.body
    docs, _ = warc_text_documents(records)
    d = docs.collect()[0]
    assert jp in d.text and d.charset == "Shift_JIS" and d.n_repl == 0


def test_response_charset_undeclared_fallback(spark, tmp_path):
    """No declaration anywhere: clean UTF-8 stays UTF-8; bytes that are
    invalid UTF-8 fall back to windows-1252 (never a thrown decode)."""
    utf8_text = "naïve café — überraschung"
    arch = _record(
        "u8", "response", _http_payload(utf8_text.encode("utf-8")), "http://a/u8"
    ) + _record(
        "w12",
        "response",
        _http_payload("résumé département".encode("cp1252")),
        "http://a/w12",
    )
    (tmp_path / "f.warc").write_bytes(arch)
    rows = {
        r.record_id: r
        for r in response_bodies(read_warc(spark, str(tmp_path))).collect()
    }
    a = rows["<urn:uuid:u8>"]
    assert a.body == utf8_text and a.charset == "UTF-8" and a.n_repl == 0
    b = rows["<urn:uuid:w12>"]
    assert b.body == "résumé département"
    assert b.charset == "windows-1252" and b.n_repl == 0


def test_response_mojibake_is_counted_not_thrown(spark, tmp_path):
    """A page DECLARED utf-8 whose body carries genuinely undecodable
    bytes must not kill the scan: the replacements are counted into
    n_repl so the quality gate can act on mojibake density."""
    body = b"good text then \xff\xfe\xff broken"
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + body
    )
    arch = _record("moji", "response", payload, "http://bad.example/x")
    (tmp_path / "m.warc").write_bytes(arch)
    row = response_bodies(read_warc(spark, str(tmp_path))).collect()[0]
    assert row.charset == "UTF-8"
    assert row.n_repl >= 1
    assert "good text then" in row.body


def test_warc_extraction_runs_once_above_the_spread(spark, tmp_path):
    """Plan-shape pin for the r12 extraction fence (ADVICE r12): the
    spark_partition_id() guard in warc_text_documents relies on two
    Catalyst behaviors (non-deterministic expressions block predicate
    pushdown AND CollapseProject duplication).  If a future Spark
    release relaxes either, the whole charset-decode + tag-strip chain
    silently re-duplicates below the round-robin spread — a measured
    3.7x extraction regression with no functional signal.  Pin the
    shape: the html_to_text regex chain (its `(script|style)`
    alternation is unique to it) appears EXACTLY once in the physical
    plan, and ABOVE the spread Exchange (plans print root-first, so
    "above" = earlier in the string)."""
    body = b"<html><body><p>some page text here</p></body></html>"
    arch = _record(
        "plan0", "response", _http_payload(body), "http://plan.example/a"
    )
    (tmp_path / "p.warc").write_bytes(arch)
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import warc_text_documents

    docs, _ = warc_text_documents(read_warc(spark, str(tmp_path)))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("(script|style)") == 1, "html_to_text evaluated != once"
    if "RoundRobinPartitioning" in plan:
        assert plan.index("(script|style)") < plan.index(
            "RoundRobinPartitioning"
        ), "extraction pushed below the spread Exchange"


def test_curation_cli_reads_wet(spark, tmp_path):
    """--format wet: a raw WET crawl extract flows through the full
    curation funnel — archive -> records -> documents -> gate/dedup —
    with no intermediate materialization step."""
    import gzip as _gz

    from semantic_similarity_system_using_aws_mapreduce_spark.run_curation import _read, curate

    # 30 wordy docs so the quality gate keeps them
    arch = b"".join(
        _record(
            f"doc{i}",
            "conversion",
            " ".join(f"w{i}x{j}" for j in range(30)).encode(),
            f"http://site{i % 3}.com/p{i}",
        )
        for i in range(30)
    )
    (tmp_path / "crawl.warc.gz").write_bytes(_gz.compress(arch))

    docs = _read(spark, str(tmp_path / "crawl.warc.gz"), "wet")
    out = str(tmp_path / "wet_out")
    report = curate(spark, docs, out, shards=False)
    assert report["n_input"] == 30
    curated = spark.read.parquet(f"{out}/curated.parquet")
    assert curated.count() == report["n_kept"] > 0
    assert {r.source for r in curated.select("source").distinct().collect()} <= {
        "site0.com",
        "site1.com",
        "site2.com",
    }


def test_parse_streams_records_incrementally():
    """The bounded-memory claim's foundation (VERDICT r9 #7): the
    record parse streams off the file object record-at-a-time — after
    consuming the FIRST record of a 200-record archive, the parser
    has read only that record's bytes (plus one readline of
    lookahead), not the whole archive.  Peak memory per task is
    therefore one compressed archive + one mapInPandas batch, not the
    decompressed archive."""
    import io

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import parse_warc_records

    class CountingStream(io.BytesIO):
        def __init__(self, data):
            super().__init__(data)
            self.max_pos = 0

        def read(self, n=-1):
            out = super().read(n)
            self.max_pos = max(self.max_pos, self.tell())
            return out

        def readline(self, n=-1):
            out = super().readline(n)
            self.max_pos = max(self.max_pos, self.tell())
            return out

    body = b"x" * 5000
    arch = b"".join(
        _record(f"r{i}", "conversion", body, f"http://s.com/{i}")
        for i in range(200)
    )
    stream = CountingStream(arch)
    it = parse_warc_records(stream, "big.warc")
    first = next(it)
    assert first[1] == "<urn:uuid:r0>" and not first[8]
    # one record is ~5.2 KB of ~1 MB: the parser must not have read
    # ahead more than a couple of records' worth
    assert stream.max_pos < 3 * (len(body) + 400), (
        stream.max_pos, len(arch)
    )
    # and full consumption yields every record exactly once
    assert 1 + sum(1 for _ in it) == 200


def test_curation_cli_keep_newest_dedup(tmp_path):
    """r10 (VERDICT r9 #6): --dedup keep-newest wires crawl-semantics
    exact dedup into the funnel END-TO-END FROM THE CLI — a
    re-crawled duplicate's NEWEST copy survives (keyed on the
    readers' fetched_at / WARC-Date, ties by greatest id), the older
    copies land in rejects with the exact_dup stage, and the default
    min-id rule is unchanged."""
    import gzip as _gz
    import hashlib
    import json
    import subprocess
    import sys
    from pathlib import Path

    dup_text = " ".join(f"page{j} word{j}" for j in range(30))
    other = " ".join(f"other{j} tok{j}" for j in range(30))
    arch = (
        _record("old1", "conversion", dup_text.encode(),
                "http://s.com/p", date="2025-03-01T00:00:00Z")
        + _record("new1", "conversion", dup_text.encode(),
                  "http://s.com/p", date="2026-02-01T00:00:00Z")
        + _record("mid1", "conversion", dup_text.encode(),
                  "http://s.com/p", date="2025-09-01T00:00:00Z")
        + _record("uniq1", "conversion", other.encode(),
                  "http://s.com/q", date="2025-01-01T00:00:00Z")
    )
    (tmp_path / "recrawl.warc.gz").write_bytes(_gz.compress(arch))

    def doc_id(rid):
        return int(hashlib.md5(f"<urn:uuid:{rid}>".encode()).hexdigest()[:15], 16)

    def run(outdir, *extra):
        proc = subprocess.run(
            [
                sys.executable, "-m",
                "semantic_similarity_system_using_aws_mapreduce_spark.run_curation",
                str(tmp_path / "recrawl.warc.gz"), outdir,
                "--format", "wet", "--no-shards", *extra,
            ],
            capture_output=True, text=True, timeout=600,
            cwd=Path(__file__).resolve().parents[1],
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    out = str(tmp_path / "newest")
    manifest = run(out, "--dedup", "keep-newest")
    assert manifest["funnel"]["exact_dup"] == 2
    kept = {
        r.doc_id
        for r in _read_parquet(out + "/curated.parquet").itertuples()
    }
    assert kept == {doc_id("new1"), doc_id("uniq1")}
    rejects = _read_parquet(out + "/rejects.parquet")
    assert set(rejects.doc_id) == {doc_id("old1"), doc_id("mid1")}
    assert set(rejects.drop_stage) == {"exact_dup"}

    # default rule unchanged: min-id survivor
    out2 = str(tmp_path / "minid")
    run(out2)
    kept2 = {
        r.doc_id
        for r in _read_parquet(out2 + "/curated.parquet").itertuples()
    }
    assert kept2 == {
        min(doc_id("old1"), doc_id("new1"), doc_id("mid1")),
        doc_id("uniq1"),
    }


def _read_parquet(path):
    import glob as _glob

    import pandas as _pd
    import pyarrow.parquet as _pq

    frames = [
        _pq.read_table(f).to_pandas()
        for f in _glob.glob(path + "/**/*.parquet", recursive=True)
    ]
    return _pd.concat(frames, ignore_index=True)


def test_html_to_text_extraction(spark):
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.text_analysis import html_to_text
    from pyspark.sql import functions as F

    cases = [
        (
            "<html><head><title>T</title><style>p{color:red}</style>"
            "<script>var x='<p>not text</p>';</script></head>"
            "<body><h1>Head</h1><p>one&nbsp;two &amp; three</p>"
            "<!-- hidden -->&lt;tag&gt; &#39;q&#39;</body></html>",
            "T Head one two & three <tag> 'q'",
        ),
        ("no markup at all", "no markup at all"),
        ("<p>a</p><p>b</p>", "a b"),
        ("&amp;lt;", "&lt;"),  # double-encoded stays one level encoded
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "html string")
    got = [r.t for r in df.select(html_to_text(F.col("html")).alias("t")).collect()]
    assert got == [w for _, w in cases]
    # plan stays JVM-side
    plan = (
        df.select(html_to_text(F.col("html")).alias("t"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_warc_text_documents_raw_crawl(spark, tmp_path):
    """Raw response archives (no WET sidecar): header split + HTML
    extraction + 2xx/non-empty gating, ending in the documents shape
    the curation funnel accepts."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import warc_text_documents

    html = b"<html><body><p>real content here</p><script>x</script></body></html>"
    redirect = (
        b"HTTP/1.1 301 Moved\r\nLocation: http://example.com/\r\n\r\nmoved"
    )
    arch = (
        _record("w1", "response", _http_payload(html), "http://a.com/x",
                ctype="application/http; msgtype=response")
        + _record("w2", "response", redirect, "http://b.com/y",
                  ctype="application/http; msgtype=response")
        + _record("w3", "response", _http_payload(b"<div></div>"), "http://c.com/z",
                  ctype="application/http; msgtype=response")  # empty after strip
    )
    (tmp_path / "crawl.warc").write_bytes(arch)
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import read_warc

    docs, rejects = warc_text_documents(read_warc(spark, str(tmp_path)))
    rows = docs.collect()
    assert len(rows) == 1
    assert rows[0].text == "real content here"
    assert rows[0].source == "a.com"
    assert rows[0].n_chars == len("real content here")
    rej = {r.source: r.http_status for r in rejects.collect()}
    assert rej == {"b.com": 301, "c.com": 200}


def test_parser_survives_random_corruption():
    """Fuzz the record parser: random archives with random byte-level
    damage (torn headers, garbage between records, truncation) must
    never raise, and every record BEFORE the first damage point must
    come back intact."""
    import io
    import random

    for trial in range(25):
        rng = random.Random(trial)
        recs = [
            _record(f"t{trial}r{i}", "conversion", bytes(rng.randbytes(rng.randint(0, 80))))
            for i in range(rng.randint(1, 6))
        ]
        arch = b"".join(recs)
        damage_at = rng.randint(0, len(arch))
        kind = rng.choice(["truncate", "garbage", "flip"])
        if kind == "truncate":
            damaged = arch[:damage_at]
        elif kind == "garbage":
            damaged = arch[:damage_at] + rng.randbytes(rng.randint(1, 40)) + arch[damage_at:]
        else:
            damaged = bytearray(arch)
            if damaged:
                pos = min(damage_at, len(damaged) - 1)
                damaged[pos] ^= 0xFF
            damaged = bytes(damaged)

        out = list(parse_warc_records(io.BytesIO(damaged), "fuzz"))  # must not raise
        # records wholly before the damage point parse clean
        offset = 0
        for i, r in enumerate(recs):
            if offset + len(r) <= damage_at:
                assert any(
                    (not t[8]) and t[1] == f"<urn:uuid:t{trial}r{i}>" for t in out
                ), f"trial {trial}: clean record {i} lost"
            offset += len(r)


def test_canonical_url_normalization(spark):
    """Cosmetic URL variants collapse; meaningful differences don't."""
    import pyspark.sql.functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import canonical_url

    cases = [
        # (input, expected canonical)
        ("http://www.Example.COM/a/", "http://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        # a port that is DEFAULT FOR THE OTHER scheme is genuinely
        # non-default here and must survive (ADVICE r6)
        ("https://example.com:80/a", "https://example.com:80/a"),
        ("http://example.com:443/a", "http://example.com:443/a"),
        ("ftp://example.com:80/a", "ftp://example.com:80/a"),
        ("http://user:pw@example.com/a", "http://example.com/a"),
        ("http://example.com/a#frag", "http://example.com/a"),
        ("http://example.com/a?b=2&a=1", "http://example.com/a?a=1&b=2"),
        (
            "http://example.com/a?utm_source=x&q=1&fbclid=z&gclid=7&ref=hn",
            "http://example.com/a?q=1",
        ),
        ("http://example.com/a?utm_source=x", "http://example.com/a"),
        ("http://example.com/", "http://example.com/"),  # root slash kept
        ("  http://example.com/a  ", "http://example.com/a"),
        ("not a url at all", "not a url at all"),  # passthrough
        ("http://example.com/a?refresh=1", "http://example.com/a?refresh=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    for (u, want), c in zip(cases, got):
        assert c == want, (u, c, want)


def test_url_dedup_keeps_min_id_per_canonical(spark):
    import pyspark.sql.functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import url_dedup

    rows = [
        (1, "http://www.a.com/x/"),
        (2, "http://a.com/x"),
        (3, "http://a.com/x?utm_campaign=spring"),
        (4, "http://a.com/y"),
        (5, "HTTP is not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, target_uri string")
    got = {r.canon_url: (r.keep_doc_id, r.n_copies) for r in url_dedup(df).collect()}
    assert got["http://a.com/x"] == (1, 3)
    assert got["http://a.com/y"] == (4, 1)
    assert got["HTTP is not a url"] == (5, 1)
    assert len(got) == 3


def test_wet_documents_tolerates_garbage_target_uri(spark):
    """Regression: parse_url (Spark 4) THROWS on an invalid URL, so one
    garbage WARC-Target-URI killed the whole projection — try_parse_url
    nulls it and the host falls back to 'unknown'."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import wet_documents

    rows = [
        ("f", "<urn:uuid:1>", "conversion", "http://ok.com/a", None, None,
         b"hello world", 11, False),
        ("f", "<urn:uuid:2>", "conversion", "::not a uri::", None, None,
         b"second doc", 10, False),
    ]
    records = spark.createDataFrame(rows, WARC_SCHEMA)
    docs, rejects = wet_documents(records)
    got = {r.text: r.source for r in docs.collect()}
    assert got == {"hello world": "ok.com", "second doc": "unknown"}


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u): re-canonicalizing an
    already-canonical URL must be a no-op (stored canonical keys can be
    re-fed through the pipeline without drifting)."""
    import pyspark.sql.functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import canonical_url

    urls = [
        "http://www.Example.COM/a/b/?z=1&utm_source=x&a=2#f",
        "https://User:pw@Site.org:443/Path/",
        "http://example.com:8080/a?b=2&a=1",
        "ftp://Files.example.com/pub/",
        "not a url at all",
        "http://example.com/?utm_source=o",
        "http://example.com",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(canonical_url(F.col("u")).alias("c1"))
    twice = once.select(
        F.col("c1"), canonical_url(F.col("c1")).alias("c2")
    ).collect()
    for r in twice:
        assert r.c1 == r.c2, (r.c1, r.c2)


def test_wet_documents_url_dedup(spark, tmp_path):
    """url_dedup=True: two fetches of one page under cosmetic URL
    variants collapse to one document (smallest doc_id survives);
    distinct pages and URL-less records all pass through."""
    import hashlib as _hl

    arch = (
        _record("v1", "conversion", b"page body one", "http://www.A.com/x/")
        + _record("v2", "conversion", b"page body two", "http://a.com/x?utm_source=s")
        + _record("v3", "conversion", b"other page", "http://a.com/y")
        + _record("v4", "conversion", b"no uri here")
        + _record("v5", "conversion", b"still no uri")
    )
    (tmp_path / "u.warc").write_bytes(arch)
    records = read_warc(spark, str(tmp_path))
    docs, _ = wet_documents(records, url_dedup=True)
    rows = docs.collect()
    # v1/v2 share canonical http://a.com/x -> one survivor; v3 + two
    # URL-less records all kept
    assert len(rows) == 4
    texts = {r.text for r in rows}
    assert "other page" in texts and "no uri here" in texts and "still no uri" in texts
    surv = next(t for t in texts if t.startswith("page body"))
    ids = {
        v: int(_hl.md5(f"<urn:uuid:{v}>".encode()).hexdigest()[:15], 16)
        for v in ("v1", "v2")
    }
    want = "page body one" if ids["v1"] < ids["v2"] else "page body two"
    assert surv == want
    # url_dedup=False keeps both variants
    docs_all, _ = wet_documents(records, url_dedup=False)
    assert docs_all.count() == 5
    assert "_uri" not in docs_all.columns and "_uri" not in docs.columns


def test_warc_text_documents_main_content_columns(spark, tmp_path):
    """Raw-crawl docs carry the block-level main-content view: nav and
    footer furniture is stripped from main_text (while `text` keeps
    the full extraction so small pages survive) and boilerplate_ppm
    quantifies the stripped fraction for the quality gate."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import read_warc, warc_text_documents

    body = (
        "the quick brown fox jumps over the lazy dog again and again "
        "in the wide summer meadow beside a slow river"
    )
    html = (
        '<html><body><nav><a href="/">Home</a> <a href="/cat">Catalog</a>'
        f"</nav><p>{body}</p>"
        '<footer><a href="/about">About</a> <a href="/tos">Terms</a>'
        "</footer></body></html>"
    ).encode()
    arch = _record(
        "mc1", "response", _http_payload(html), "http://a.com/page",
        ctype="application/http; msgtype=response",
    )
    (tmp_path / "crawl.warc").write_bytes(arch)
    row = warc_text_documents(read_warc(spark, str(tmp_path)))[0].collect()[0]
    assert row.main_text == body
    assert "Home" in row.text and "About" in row.text  # full extraction intact
    assert "Home" not in row.main_text and "About" not in row.main_text
    assert 0 < row.boilerplate_ppm < 1_000_000


def test_charset_confs_contained_to_warc_reader_plans(spark, tmp_path):
    """r10 (VERDICT r9 #3): the legacy REPLACE-decode confs are
    READER-LOCAL — set around the WARC projections' plan
    construction and restored before the reader returns, captured by
    the plans' own decode expressions.  Pinned in BOTH directions:
    (a) the reader survives mojibake bytes and exotic charsets even
    when its result is collected long after the scope exited, and
    (b) a non-WARC decode() built AFTER a WARC read in the SAME
    session still fail-fasts (the direction the r9 session-wide
    design could not pin), with the confs back to their prior
    values."""
    import pytest
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.session import get_spark

    spark.conf.unset("spark.sql.legacy.codingErrorAction")
    spark.conf.unset("spark.sql.legacy.javaCharsets")
    # the session factory must NOT set them globally
    reused = get_spark()
    assert reused is spark  # getOrCreate reuse — same runtime conf state
    assert reused.conf.get("spark.sql.legacy.codingErrorAction") == "false"
    assert reused.conf.get("spark.sql.legacy.javaCharsets") == "false"
    # a charset-sensitive read on the bare session works: mojibake
    # UTF-8 REPLACEs, and a declared exotic charset (Shift_JIS —
    # outside Spark 4's default decode whitelist) decodes
    body = b"good text then \xff\xfe\xff broken"
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + body
    )
    (tmp_path / "m.warc").write_bytes(
        _record("moji2", "response", payload, "http://bad.example/x")
    )
    sjis = "テスト".encode("shift_jis")
    (tmp_path / "sjis.warc").write_bytes(
        _record(
            "sjis1",
            "response",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=shift_jis\r\n\r\n"
            + sjis,
            "http://jp.example/x",
        )
    )
    # build the plan FIRST, assert conf restoration, THEN collect —
    # proving the leniency lives in the captured plan, not in any
    # lingering session state
    plan = response_bodies(read_warc(spark, str(tmp_path)))
    assert spark.conf.get("spark.sql.legacy.codingErrorAction") == "false"
    assert spark.conf.get("spark.sql.legacy.javaCharsets") == "false"
    rows = {r.record_id.strip("<>"): r for r in plan.collect()}
    moji = rows["urn:uuid:moji2"]
    assert moji.n_repl >= 1 and "good text then" in moji.body
    jp = rows["urn:uuid:sjis1"]
    assert jp.body == "テスト" and jp.charset == "Shift_JIS"
    # (b) non-WARC decode built AFTER the WARC read still fail-fasts
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        spark.range(1).select(
            F.decode(F.lit(b"ok \xff\xfe"), "UTF-8").alias("t")
        ).collect()
    # ... and exotic charsets stay outside the default whitelist
    with pytest.raises(Exception, match="CHARSET|charset"):
        spark.range(1).select(
            F.decode(F.lit(b"ok"), "windows-1252").alias("t")
        ).collect()
    # restore is value-faithful: deliberately-set prior values return
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    _ = response_bodies(read_warc(spark, str(tmp_path)))
    assert spark.conf.get("spark.sql.legacy.codingErrorAction") == "true"
    assert spark.conf.get("spark.sql.legacy.javaCharsets") == "false"
    spark.conf.unset("spark.sql.legacy.codingErrorAction")


# ---------------------------------------------------------------------------
# HTTP transfer/content codings on the raw-WARC path (VERDICT r7 #2)


def _chunked(body: bytes, sizes=None) -> bytes:
    """RFC 9112 chunked framing for a test body."""
    out, i = [], 0
    sizes = sizes or [7, 11, 64, len(body)]
    k = 0
    while i < len(body):
        n = min(sizes[k % len(sizes)], len(body) - i)
        k += 1
        out.append(f"{n:x}".encode() + b"\r\n" + body[i : i + n] + b"\r\n")
        i += n
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def _http_coded(body: bytes, headers: list[bytes]) -> bytes:
    head = b"\r\n".join(
        [b"HTTP/1.1 200 OK", b"Content-Type: text/html"] + headers
    )
    return head + b"\r\n\r\n" + body


def test_chunked_response_body_decodes_clean(spark, tmp_path):
    """A Transfer-Encoding: chunked response (the Heritrix/wget norm)
    must yield clean extracted text — no hex chunk-size lines."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import warc_text_documents

    body = (
        b"<html><body><p>the quick brown fox jumps over the lazy dog "
        b"and keeps going for long enough to be real content</p></body></html>"
    )
    payload = _http_coded(_chunked(body), [b"Transfer-Encoding: chunked"])
    (tmp_path / "c.warc").write_bytes(
        _record("ch1", "response", payload, "http://a.com/x",
                ctype="application/http; msgtype=response")
    )
    docs, _ = warc_text_documents(read_warc(spark, str(tmp_path)))
    row = docs.collect()[0]
    assert "quick brown fox" in row.text
    assert "40\r" not in row.text and ";" not in row.text
    for frag in ("0\r", "7\r", "b\r"):
        assert frag not in row.text


def test_gzip_and_deflate_response_bodies_decode_clean(spark, tmp_path):
    """Content-Encoding: gzip / deflate (zlib-wrapped AND raw) bodies
    decompress before the charset sniff instead of decoding as
    counted mojibake."""
    import zlib as _zl

    text = "compressed body text naïve café long enough to matter"
    raw = f"<html><body><p>{text}</p></body></html>".encode("utf-8")
    arch = (
        _record("gz", "response",
                _http_coded(gzip.compress(raw), [b"Content-Encoding: gzip"]),
                "http://a.com/gz", ctype="application/http; msgtype=response")
        + _record("dfz", "response",
                  _http_coded(_zl.compress(raw), [b"Content-Encoding: deflate"]),
                  "http://a.com/dfz", ctype="application/http; msgtype=response")
        + _record("dfr", "response",
                  _http_coded((lambda c: c.compress(raw) + c.flush())(
                                  _zl.compressobj(wbits=-15)),
                              [b"Content-Encoding: deflate"]),
                  "http://a.com/dfr", ctype="application/http; msgtype=response")
    )
    (tmp_path / "z.warc").write_bytes(arch)
    rows = {r.target_uri: r for r in response_bodies(read_warc(spark, str(tmp_path))).collect()}
    assert len(rows) == 3
    for uri, r in rows.items():
        assert text in r.body, uri
        assert r.n_repl == 0, uri


def test_chunked_plus_gzip_and_charset_interplay(spark, tmp_path):
    """TE chunked wrapping a CE-gzipped Shift-JIS body: de-chunk, then
    gunzip, then the existing charset sniff — all three layers in
    order."""
    jp = "日本語のテキストです。文字化けしません。"
    html = (
        '<html><head><meta charset="shift_jis"></head>'
        f"<body><p>{jp}</p></body></html>"
    ).encode("shift_jis")
    payload = _http_coded(
        _chunked(gzip.compress(html)),
        [b"Transfer-Encoding: chunked", b"Content-Encoding: gzip"],
    )
    (tmp_path / "cj.warc").write_bytes(
        _record("cj1", "response", payload, "http://jp.example/cz",
                ctype="application/http; msgtype=response")
    )
    row = response_bodies(read_warc(spark, str(tmp_path))).collect()[0]
    assert row.charset == "Shift_JIS" and row.n_repl == 0
    assert jp in row.body


def test_corrupt_chunk_stream_quarantines_record_not_archive(spark, tmp_path):
    """A torn/garbage chunk stream quarantines ITS record (corrupt =
    true, original payload preserved); the next record in the archive
    parses normally."""
    good_body = (
        b"<html><body><p>intact sibling record with plenty of text to "
        b"survive the gate</p></body></html>"
    )
    torn = _http_coded(
        b"ZZZ\r\nnot hex\r\n0\r\n\r\n", [b"Transfer-Encoding: chunked"]
    )
    truncated = _http_coded(
        b"ff\r\nonly a few bytes", [b"Transfer-Encoding: chunked"]
    )
    arch = (
        _record("bad1", "response", torn, "http://bad.com/a",
                ctype="application/http; msgtype=response")
        + _record("bad2", "response", truncated, "http://bad.com/b",
                  ctype="application/http; msgtype=response")
        + _record("ok1", "response", _http_payload(good_body), "http://ok.com/c",
                  ctype="application/http; msgtype=response")
    )
    (tmp_path / "q.warc").write_bytes(arch)
    records = read_warc(spark, str(tmp_path)).collect()
    by_id = {r.record_id: r for r in records}
    assert by_id["<urn:uuid:bad1>"].corrupt
    assert by_id["<urn:uuid:bad2>"].corrupt
    # quarantined rows keep the ORIGINAL payload for forensics
    assert bytes(by_id["<urn:uuid:bad1>"].payload) == torn
    assert not by_id["<urn:uuid:ok1>"].corrupt
    # and the docs path sees only the intact record
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import warc_text_documents

    docs, _ = warc_text_documents(read_warc(spark, str(tmp_path)))
    texts = [r.text for r in docs.collect()]
    assert len(texts) == 1 and "intact sibling" in texts[0]


def test_decode_http_payload_unit_edges():
    """Driver-side unit edges of the coding decoder: identity no-op,
    bomb cap, unknown/unavailable codings, bare-LF chunk framing."""
    import zlib as _zl

    from semantic_similarity_system_using_aws_mapreduce_spark.sources import warc as W

    ident = _http_coded(b"plain body", [])
    assert W.decode_http_payload(ident) == (ident, True)
    # "identity" is a no-op in BOTH header positions, never a quarantine
    for hdr in (b"Transfer-Encoding: identity", b"Content-Encoding: identity"):
        p = _http_coded(b"plain body", [hdr])
        assert W.decode_http_payload(p) == (p, True), hdr
    # non-HTTP payloads pass through untouched
    assert W.decode_http_payload(b"\x89PNG...") == (b"\x89PNG...", True)
    # bare-LF chunk framing tolerated
    lf = _http_coded(b"5\nhello\n0\n\n", [b"Transfer-Encoding: chunked"])
    out, ok = W.decode_http_payload(lf)
    assert ok and out.endswith(b"\r\n\r\nhello")
    # compression bomb: > cap expansion is rejected, record-level
    bomb = _zl.compress(b"\x00" * (4 * 1024 * 1024))
    old = W.MAX_HTTP_BODY_DECODED
    W.MAX_HTTP_BODY_DECODED = 1024 * 1024
    try:
        p = _http_coded(bomb, [b"Content-Encoding: deflate"])
        assert W.decode_http_payload(p) == (p, False)
        # over-long chunk stream hits the same cap
        big = _chunked(b"x" * (2 * 1024 * 1024), sizes=[65536])
        pc = _http_coded(big, [b"Transfer-Encoding: chunked"])
        assert W.decode_http_payload(pc) == (pc, False)
    finally:
        W.MAX_HTTP_BODY_DECODED = old
    # unknown coding -> quarantine, never mojibake
    p = _http_coded(b"\x01\x02", [b"Content-Encoding: zstd-nonsense"])
    assert W.decode_http_payload(p) == (p, False)
    # br: decoded when the library exists, loudly quarantined otherwise
    p = _http_coded(b"\x0b\x02\x80hi\x03", [b"Content-Encoding: br"])
    try:
        import brotli  # noqa: F401

        out, ok = W.decode_http_payload(p)
        assert ok and out.endswith(b"hi")
    except ImportError:
        assert W.decode_http_payload(p) == (p, False)
    # TE "gzip, chunked": dechunk, then remove the transfer gzip
    inner = gzip.compress(b"layered body")
    p = _http_coded(_chunked(inner), [b"Transfer-Encoding: gzip, chunked"])
    out, ok = W.decode_http_payload(p)
    assert ok and out.endswith(b"layered body")


def test_decode_http_payload_mixed_te_and_ce():
    """Transfer AND content codings together: the sender applies CE
    innermost (entity coding), TE outermost (hop coding), so removal
    must walk TE before CE.  A body layered chunked(te_gzip(
    ce_deflate(text))) is decodable — the old reversed(te+ce) order
    falsely quarantined it."""
    import zlib as _zl

    from semantic_similarity_system_using_aws_mapreduce_spark.sources import warc as W

    body = b"entity text that was deflated then transfer-gzipped"
    ce = _zl.compress(body)  # Content-Encoding: deflate (innermost)
    te = gzip.compress(ce)  # Transfer-Encoding: gzip
    p = _http_coded(
        _chunked(te),  # Transfer-Encoding: chunked (outermost)
        [b"Transfer-Encoding: gzip, chunked", b"Content-Encoding: deflate"],
    )
    out, ok = W.decode_http_payload(p)
    assert ok and out.endswith(b"\r\n\r\n" + body)
    # CE-only multi-coding: "deflate, gzip" means deflate applied
    # first, gzip last -> remove gzip, then deflate
    p2 = _http_coded(
        gzip.compress(_zl.compress(body)),
        [b"Content-Encoding: deflate, gzip"],
    )
    out2, ok2 = W.decode_http_payload(p2)
    assert ok2 and out2.endswith(b"\r\n\r\n" + body)


def test_decode_http_payload_repeated_coding_headers():
    """Repeated Transfer-Encoding/Content-Encoding field lines are a
    #-list split across lines (RFC 9110 §5.3) — both codings must be
    removed; keep-last parsing shipped half-decoded bytes as ok=True."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources import warc as W

    body = b"repeated header lines body"
    p = _http_coded(
        _chunked(gzip.compress(body)),
        [b"Transfer-Encoding: gzip", b"Transfer-Encoding: chunked"],
    )
    out, ok = W.decode_http_payload(p)
    assert ok and out.endswith(b"\r\n\r\n" + body)
    import zlib as _zl

    p2 = _http_coded(
        gzip.compress(_zl.compress(body)),
        [b"Content-Encoding: deflate", b"Content-Encoding: gzip"],
    )
    out2, ok2 = W.decode_http_payload(p2)
    assert ok2 and out2.endswith(b"\r\n\r\n" + body)


def test_br_without_library_quarantines(monkeypatch):
    """A br-coded record with NO importable brotli module quarantines
    (ok=False) instead of shipping compressed bytes as text — forced
    by masking the module, so the drill runs regardless of what the
    host has installed (mirrors the chunk-corruption drill)."""
    import sys

    from semantic_similarity_system_using_aws_mapreduce_spark.sources import warc as W

    monkeypatch.setitem(sys.modules, "brotli", None)  # import -> ImportError
    p = _http_coded(b"\x0b\x02\x80hi\x03", [b"Content-Encoding: br"])
    assert W.decode_http_payload(p) == (p, False)


def test_page_metadata_columns(spark, tmp_path):
    """Crawl docs carry the page-metadata priors: <title> text
    (entity-decoded), the <html lang=...> declaration, and the
    WARC-Date fetch timestamp — null-safe when any is absent."""
    import datetime

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import warc_text_documents

    body = (
        "the quick brown fox jumps over the lazy dog again and again "
        "in the wide summer meadow"
    )
    full = (
        '<html lang="EN-us"><head><title> Tom &amp; Jerry </title></head>'
        f"<body><p>{body}</p></body></html>"
    ).encode()
    bare = f"<html><body><p>{body} second page entirely</p></body></html>".encode()
    arch = _record(
        "meta1", "response", _http_payload(full), "http://a.com/x",
        ctype="application/http; msgtype=response",
    ) + _record(
        "meta2", "response", _http_payload(bare), "http://a.com/y",
        ctype="application/http; msgtype=response",
    )
    (tmp_path / "m.warc").write_bytes(arch)
    docs, _ = warc_text_documents(read_warc(spark, str(tmp_path)))
    rows = {r.source + r.text[-6:]: r for r in docs.collect()}
    full_row = next(r for r in rows.values() if "entirely" not in r.text)
    bare_row = next(r for r in rows.values() if "entirely" in r.text)
    assert full_row.title == "Tom & Jerry"
    assert full_row.html_lang == "en-us"
    assert full_row.fetched_at == datetime.datetime(2026, 1, 1, 0, 0)
    assert bare_row.title is None and bare_row.html_lang is None
    # WET docs carry the fetch timestamp too
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import wet_documents

    wet = _record("w1", "conversion", b"plain text body here", "http://a.com/z")
    (tmp_path / "w2").mkdir()
    (tmp_path / "w2" / "x.warc").write_bytes(wet)
    wdocs, _ = wet_documents(read_warc(spark, str(tmp_path / "w2")))
    assert wdocs.collect()[0].fetched_at == datetime.datetime(2026, 1, 1, 0, 0)


def test_decode_http_payload_roundtrip_property():
    """Hypothesis: ANY body bytes under ANY chunking and any supported
    coding stack (identity / chunked / gzip / deflate zlib+raw /
    chunked-over-gzip) decode back to exactly the original bytes —
    framing and decompression are lossless inverses, not heuristics."""
    import zlib as _zl

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import decode_http_payload

    @settings(max_examples=40, deadline=None)
    @given(
        body=st.binary(min_size=0, max_size=2000),
        sizes=st.lists(st.integers(1, 300), min_size=1, max_size=6),
        stack=st.sampled_from(
            ["identity", "chunked", "gzip", "deflate", "deflate_raw",
             "chunked+gzip", "te_gzip+chunked+ce_deflate"]
        ),
    )
    def check(body, sizes, stack):
        coded = body
        headers = [b"Content-Type: text/html"]
        if stack == "te_gzip+chunked+ce_deflate":
            # mixed transfer + content codings, correctly layered:
            # CE deflate innermost, TE gzip, TE chunked outermost
            coded = _chunked(gzip.compress(_zl.compress(coded)), sizes=sizes)
            headers += [
                b"Content-Encoding: deflate",
                b"Transfer-Encoding: gzip, chunked",
            ]
        elif "gzip" in stack:
            coded = gzip.compress(coded)
            headers.append(b"Content-Encoding: gzip")
        elif stack == "deflate":
            coded = _zl.compress(coded)
            headers.append(b"Content-Encoding: deflate")
        elif stack == "deflate_raw":
            c = _zl.compressobj(wbits=-15)
            coded = c.compress(coded) + c.flush()
            headers.append(b"Content-Encoding: deflate")
        if stack in ("chunked", "chunked+gzip"):
            coded = _chunked(coded, sizes=sizes)
            headers.append(b"Transfer-Encoding: chunked")
        payload = (
            b"HTTP/1.1 200 OK\r\n" + b"\r\n".join(headers) + b"\r\n\r\n" + coded
        )
        out, ok = decode_http_payload(payload)
        assert ok
        assert out.split(b"\r\n\r\n", 1)[1] == body

    check()


def test_charset_scope_restores_on_exception(spark):
    """The scope's finally restores both confs even when plan
    construction raises mid-block (e.g. an AnalysisException on a
    malformed reader relation) — a failed read must not leave the
    session lenient."""
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import _CHARSET_CONFS, _charset_scope

    spark.conf.unset("spark.sql.legacy.codingErrorAction")
    spark.conf.unset("spark.sql.legacy.javaCharsets")
    class Boom(RuntimeError):
        pass

    try:
        with _charset_scope(spark):
            assert spark.conf.get(_CHARSET_CONFS[0]) == "true"
            assert spark.conf.get(_CHARSET_CONFS[1]) == "true"
            raise Boom()
    except Boom:
        pass
    for k in _CHARSET_CONFS:
        assert spark.conf.get(k) == "false"
    import pytest as _pytest

    with _pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        spark.range(1).select(
            F.decode(F.lit(b"ok \xff\xfe"), "UTF-8").alias("t")
        ).collect()


def test_charset_scope_lock_serializes_concurrent_threads(spark):
    """r11 (ADVICE r10): overlapping _charset_scope entries on two
    driver threads could each capture the other's "true" as the prior
    conf value, so the LAST scope to exit restored "true" and left
    the session permanently lenient.  The module lock serializes
    entries — a second scope cannot begin until the first exits, so
    every scope captures the genuine pre-scope values and the restore
    chain always terminates at fail-fast.  Without the lock this
    drill fails twice: thread B enters during A's sleep (order flips)
    AND the final conf state is left at "true"."""
    import threading
    import time

    import pytest
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.warc import (
        _CHARSET_CONFS,
        _charset_scope,
    )

    spark.conf.unset("spark.sql.legacy.codingErrorAction")
    spark.conf.unset("spark.sql.legacy.javaCharsets")
    order: list[str] = []
    a_entered = threading.Event()
    failures: list[BaseException] = []

    def thread_a():
        try:
            with _charset_scope(spark):
                a_entered.set()
                time.sleep(0.5)  # window in which an unlocked B overlaps
                order.append("a_exit")
        except BaseException as exc:  # pragma: no cover - surfaced below
            failures.append(exc)

    def thread_b():
        try:
            assert a_entered.wait(10)
            with _charset_scope(spark):
                order.append("b_enter")
                # inside a scope the confs are lenient, and the prior
                # values B captured are A's RESTORED ones, not A's
                # in-scope "true"
                assert spark.conf.get(_CHARSET_CONFS[0]) == "true"
        except BaseException as exc:  # pragma: no cover - surfaced below
            failures.append(exc)

    ta = threading.Thread(target=thread_a)
    tb = threading.Thread(target=thread_b)
    ta.start()
    tb.start()
    ta.join(30)
    tb.join(30)
    assert not failures, failures
    assert order == ["a_exit", "b_enter"]
    # the restore chain terminated at the true pre-scope state:
    # fail-fast is back on both confs, for real expressions too
    for k in _CHARSET_CONFS:
        assert spark.conf.get(k) == "false"
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        spark.range(1).select(
            F.decode(F.lit(b"ok \xff\xfe"), "UTF-8").alias("t")
        ).collect()
