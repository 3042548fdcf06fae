"""Library-level dedup operators: LSH->verify composition, near-dup
probes, span and paragraph dedup, bloom filters."""

import re

from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
    lsh_candidates,
    minhash_signatures,
    ngram_contamination,
    ngram_jaccard_pairs,
    shingle_hashes,
)

SF_DIR = "/root/testdata/sf0.01"


def test_lsh_verify_composition(spark):
    """The production near-dup flow: LSH candidates -> exact Jaccard
    verification restricted to candidates.  Must equal the exact
    result given LSH recall is 100% on this fixture (established in
    the workload tests)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hashes = shingle_hashes(docs)
    sigs = minhash_signatures(hashes)
    cands = lsh_candidates(sigs)
    verified = ngram_jaccard_pairs(hashes, 0.8, candidates=cands)
    exact = ngram_jaccard_pairs(hashes, 0.8)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in verified.collect()}
    want = {(r.doc_a, r.doc_b): r.jaccard for r in exact.collect()}
    assert got == want and len(got) == 25


def test_ngram_contamination(spark):
    """Overlap counts against a tiny benchmark set: a verbatim copy of
    a benchmark doc is fully contaminated, a doc sharing one 3-gram
    counts exactly that overlap, disjoint text counts zero."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # verbatim
            (2, "he saw the quick brown bear by the river bank"),  # 1 shared 3-gram
            (3, "completely different words appear in this one here today"),  # disjoint
        ],
        ["doc_id", "text"],
    )
    out = ngram_contamination(
        shingle_hashes(corpus), shingle_hashes(bench), min_overlap=2
    )
    got = {r.doc_id: (r.n_shingles, r.n_overlap, r.contaminated) for r in out.collect()}
    assert got[1] == (7, 7, True)
    assert got[2] == (8, 1, False)
    assert got[3] == (7, 0, False)


def test_ngram_jaccard_doc_freq_cutoff(spark):
    """max_doc_freq prunes hot shingles from the inverted-index plan.
    A generous cutoff changes nothing; a tight one may only ever LOWER
    jaccard (drop pairs), never invent them."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hashes = shingle_hashes(docs)
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(hashes, 0.8).collect()}
    loose = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(hashes, 0.8, max_doc_freq=10_000).collect()
    }
    assert loose == exact
    tight = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(hashes, 0.8, max_doc_freq=2).collect()
    }
    assert set(tight) <= set(exact)
    assert all(tight[k] <= exact[k] for k in tight)


def test_simhash_near_dups_matches_bruteforce_hamming(spark):
    """Pigeonhole recall check: the banded-bucket plan must find
    EXACTLY the pairs a brute-force all-pairs Hamming scan finds at
    threshold < n_bands (4 bands tolerate any 3 differing bits)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import simhash, simhash_near_dups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dups(docs, threshold=3).collect()
    }
    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(fps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert len(want) > 0
    assert got == want


def test_duplicate_spans_semantics(spark):
    """Hand-checkable window dedup: two docs sharing a 4-token run
    produce exactly the shared windows at the right positions; a doc
    repeating a span internally does NOT count as cross-document
    (n_docs counts distinct docs); short docs are dropped."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # windows: "a b c d"@0, "b c d e"@1
            (2, "x a b c d e"),        # shares both, shifted by one
            (3, "p q r p q r p q"),    # internal repetition only
            (4, "too short"),          # < window tokens: dropped
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.pos): r.n_docs
        for r in duplicate_spans(docs, window=4).collect()
    }
    assert got == {
        (1, 0): 2, (1, 1): 2,   # "a b c d", "b c d e" in docs 1+2
        (2, 1): 2, (2, 2): 2,
    }


def test_scrub_spans_removes_exactly_the_flagged_windows(spark):
    """Hand corpus: docs 1 and 2 share an 8-token passage; doc 3 is
    unique.  The shared window's tokens are excised from both carriers,
    the unique doc passes through untouched, and unions of overlapping
    flagged windows are counted once."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import duplicate_spans, scrub_spans

    shared = " ".join(f"dup{i}" for i in range(9))  # 9 tokens -> 2 windows of 8
    rows = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"{shared} delta epsilon zeta"),
        (3, "unique words only here nothing repeats at all ever once"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flagged = duplicate_spans(df, window=8)
    out = {r.doc_id: r for r in scrub_spans(df, flagged, window=8).collect()}

    # doc 1: tokens 2..10 covered (both windows union to the 9 shared)
    assert out[1].n_tokens == 12 and out[1].n_removed == 9
    assert out[1].scrubbed == "alpha beta gamma"
    # doc 2: tokens 0..8 covered
    assert out[2].n_tokens == 12 and out[2].n_removed == 9
    assert out[2].scrubbed == "delta epsilon zeta"
    # doc 3 untouched
    assert out[3].n_removed == 0
    assert out[3].scrubbed == rows[2][1]


def test_incremental_dedup_probe_append_idempotent(spark):
    """Growing-corpus ingest: batch probes the signature index, drops
    near/exact dups of indexed docs and of smaller-id batchmates,
    survivors append; re-ingesting the same content against the
    updated index drops everything."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        N_HASHES,
        minhash_signatures,
        near_dup_probe,
        shingle_hashes,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    v1 = [
        (1, base),
        (2, "completely different content about spark shuffles and joins here"),
    ]
    # batch ids disjoint from index ids (the operator's only id contract)
    v2 = [
        (10, base),                                        # exact dup of 1
        (11, base + " extra"),                             # near dup of 1
        (12, "fresh unique text nothing like anything earlier in the corpus"),
        (13, "fresh unique text nothing like anything earlier in the corpus"),  # intra-batch dup of 12
    ]
    sigs = lambda rows: minhash_signatures(  # noqa: E731
        shingle_hashes(spark.createDataFrame(rows, "doc_id long, text string"))
    )

    def probe(rows, index):
        """(kept ids, doc -> (smallest partner, its n_agree))."""
        cols = ["doc_id"] + [f"h{k}" for k in range(N_HASHES)]
        batch = [tuple(r) for r in sigs(rows).select(*cols).collect()]
        drops: dict = {}
        for doc, partner, n, _ in sorted(near_dup_probe(spark, batch, index)):
            drops.setdefault(doc, (partner, n))
        return {r[0] for r in batch} - set(drops), drops

    index = sigs(v1)
    kept_ids, drops = probe(v2, index)

    assert kept_ids == {12}
    assert drops[10] == (1, 8)          # exact dup: all 8 components agree
    assert drops[11][0] == 1 and drops[11][1] >= 6
    assert drops[13] == (12, 8)         # intra-batch min-id survivorship

    # idempotence: same content re-ingested (fresh ids) vs updated index
    index2 = index.unionByName(sigs(v2).filter("doc_id = 12"))
    v3 = [(20, t) for _, t in v2 if _ in (12,)] + [(21, v2[2][1])]
    kept3, drops3 = probe(v3, index2)
    assert kept3 == set()
    assert set(drops3) == {20, 21}


def _banding_oracle(batch, index, min_agree):
    """Pure-Python near-dup probe: every (doc, partner, n_agree,
    in_batch) pair sharing one full LSH band whose signatures agree on
    >= min_agree components; index rows under a batch id are ignored,
    in-batch pairs drop the larger id toward the smaller."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
    )

    def bands(sig):
        return {(b, sig[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]) for b in range(N_BANDS)}

    def agree(a, b):
        return sum(x == y for x, y in zip(a, b))

    ids = {r[0] for r in batch}
    out = set()
    for doc, *sig in batch:
        for pool, in_batch in ((batch, True), (index, False)):
            for other, *osig in pool:
                if (other >= doc) if in_batch else (other in ids):
                    continue
                n = agree(sig, osig)
                if bands(tuple(sig)) & bands(tuple(osig)) and n >= min_agree:
                    out.add((doc, other, n, in_batch))
    return out


def test_near_dup_probe_matches_python_banding_oracle(spark, tmp_path):
    """The broadcast probe equals a pure-Python banding oracle on
    seeded signatures with engineered collisions at n_agree =
    min_agree - 1 (not a dup), min_agree and 8, against the plain index
    and against a bucket table plus its parquet tail; index rows under
    the batch's own ids (a replayed batch's residue) never collide, and
    neither query shuffles."""
    import random

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        N_HASHES,
        _index_hits,
        near_dup_probe,
        signature_buckets,
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.bucketing import write_bucketed

    min_agree = 6
    rng = random.Random(7)
    fresh = lambda: [rng.randrange(1, 1 << 31) for _ in range(N_HASHES)]  # noqa: E731

    def near(sig, n_agree):
        """A signature agreeing with ``sig`` on exactly ``n_agree``
        components, band 0 (h0, h1) among them."""
        out = list(sig)
        for k in rng.sample(range(2, N_HASHES), N_HASHES - n_agree):
            out[k] = sig[k] + 1
        return out

    batch, index = [], []
    for i in range(12):
        sig = fresh()
        batch.append((100 + i, *sig))
        n = (min_agree - 1, min_agree, N_HASHES)[i % 3]
        index.append((i, *near(sig, n)))  # partner in the base
        index.append((50 + i, *near(sig, (n + 1) % (N_HASHES + 1) or N_HASHES)))  # in the tail
    # in-batch collisions at the same three levels
    for j, n in enumerate((min_agree - 1, min_agree, N_HASHES)):
        batch.append((200 + j, *near(batch[j][1:], n)))
    # unrelated index rows, and residue under two of the batch's own ids
    index += [(300 + i, *fresh()) for i in range(30)]
    index += [batch[0], (batch[1][0], *near(batch[1][1:], N_HASHES))]

    expect = _banding_oracle(batch, index, min_agree)
    # the engineered levels show: min_agree and 8 collide, in and out of
    # the batch; min_agree - 1 does not
    assert {(n, in_batch) for _, _, n, in_batch in expect} >= {
        (min_agree, False), (N_HASHES, False), (min_agree, True), (N_HASHES, True)
    }
    assert min_agree - 1 not in {n for _, _, n, _ in expect}

    cols = "doc_id long, " + ", ".join(f"h{k} long" for k in range(N_HASHES))
    tail_ids = {r[0] for r in index if 50 <= r[0] < 100} | {batch[1][0]}
    rows = [(*r, int(r[0] in tail_ids)) for r in index]
    index_path = str(tmp_path / "probe_index")
    spark.createDataFrame(rows, cols + ", ingest_batch int").write.partitionBy(
        "ingest_batch"
    ).parquet(index_path)
    index_df = spark.read.parquet(index_path)
    write_bucketed(
        signature_buckets(index_df.filter("ingest_batch = 0")),
        "probe_oracle_buckets",
        ["band", "k0", "k1"],
        n_buckets=4,
    )
    bucketed = (spark.table("probe_oracle_buckets"), index_df.filter("ingest_batch > 0"))
    try:
        assert near_dup_probe(spark, batch, index_df, min_agree) == expect
        assert near_dup_probe(spark, batch, index_df, min_agree, bucketed) == expect
        sigs = {r[0]: r[1:] for r in batch}
        for b in (None, bucketed):
            plan = _index_hits(spark, sigs, index_df, min_agree, b)._jdf.queryExecution()
            plan = plan.executedPlan().toString()
            assert "BroadcastHashJoin" in plan, plan
            assert not re.search(r"(?<!Broadcast)Exchange ", plan), plan
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_oracle_buckets")


def test_bloom_filter_no_false_negatives_and_bounded_fpr(spark):
    """Bloom contract: every indexed key probes true (no false
    negatives — guaranteed by construction, not probabilistically),
    non-members probe true only at ~the designed false-positive rate,
    and the bitmap relation is deterministic."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import bloom_build, bloom_probe

    members = spark.createDataFrame([(f"m{i}",) for i in range(100)], "key string")
    others = spark.createDataFrame([(f"x{i}",) for i in range(400)], "key string")
    m_bits, k = 4096, 2
    bloom = bloom_build(members, m_bits=m_bits, k=k)
    assert (
        bloom_probe(members, bloom, m_bits=m_bits, k=k)
        .filter(~F.col("might_contain"))
        .count()
        == 0
    )
    fp = (
        bloom_probe(others, bloom, m_bits=m_bits, k=k)
        .filter(F.col("might_contain"))
        .count()
    )
    # expected FPR ~ (1 - e^(-k*n/m))^2 ~ 0.9% here; allow generous slack
    assert fp <= 0.05 * 400
    a = sorted(map(tuple, bloom.collect()))
    b = sorted(map(tuple, bloom_build(members, m_bits=m_bits, k=k).collect()))
    assert a == b
    # bit 63 is never used (63-bit words keep the oracle's shift in range)
    assert all(r[1] >= 0 for r in a)


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """The leakage guarantee itself: every member of a dedup cluster
    carries the same split label, and the three splits roughly follow
    the 80/10/10 hash design."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload.dedup import q_leakage_safe_split

    out = q_leakage_safe_split(spark, "/root/testdata/sf0.001")
    per_group = out.groupBy("group_id").agg(
        F.countDistinct("split").alias("n_splits"), F.count("*").alias("n")
    )
    assert per_group.filter(F.col("n_splits") > 1).count() == 0
    # at least one real (multi-doc) cluster exists in the fixture
    assert per_group.filter(F.col("n") > 1).count() > 0
    by_split = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(by_split.values())
    assert by_split.get("train", 0) / total > 0.6
    assert 0 < by_split.get("val", 0) / total < 0.25
    assert 0 < by_split.get("test", 0) / total < 0.25


def test_bloom_filter_empty_index_rejects_everything(spark):
    """A Bloom built over zero keys is an empty relation; every probe
    must come back false (definitive absence), not error."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import bloom_build, bloom_probe

    empty = spark.createDataFrame([], "key string")
    bloom = bloom_build(empty, m_bits=1024, k=2)
    assert bloom.count() == 0
    probed = bloom_probe(
        spark.createDataFrame([("a",), ("b",)], "key string"),
        bloom,
        m_bits=1024,
        k=2,
    )
    rows = probed.collect()
    assert len(rows) == 2 and all(r.might_contain is False for r in rows)


def test_bloom_probe_null_key_is_false_not_null(spark):
    """The documented contract is strictly boolean: a NULL key was
    never indexed, so it probes False — not NULL (the earlier
    formulation aggregated over no usable rows and leaked NULL)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import bloom_build, bloom_probe

    members = spark.createDataFrame([("a",), ("b",)], "key string")
    bloom = bloom_build(members, m_bits=1024, k=3)
    probed = bloom_probe(
        spark.createDataFrame([("a",), (None,)], "key string"),
        bloom,
        m_bits=1024,
        k=3,
    )
    by_key = {r.key: r.might_contain for r in probed.collect()}
    assert by_key["a"] is True
    assert by_key[None] is False


def test_bloom_bitmap_bits_match_pure_python_md5(spark):
    """Bit-level differential: the (word_idx, bits) bitmap relation
    must equal an independent hashlib-md5 reconstruction — pinning the
    60-bit hash contract, the modulo placement, and the 63-bit word
    packing exactly (not just the membership behavior)."""
    import hashlib

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import bloom_build

    keys = [f"key{i}" for i in range(50)]
    m_bits, k = 1 << 12, 3

    words: dict = {}
    for key in keys:
        for i in range(k):
            h = int(hashlib.md5(f"bloom:{i}:{key}".encode()).hexdigest()[:15], 16)
            p = h % m_bits
            words[p // 63] = words.get(p // 63, 0) | (1 << (p % 63))

    got = {
        r.word_idx: r.bits
        for r in bloom_build(
            spark.createDataFrame([(x,) for x in keys], "key string"),
            m_bits=m_bits,
            k=k,
        ).collect()
    }
    assert got == words


def test_minhash_signatures_match_pure_python(spark):
    """Differential: (shingle md5 -> universal hash family -> min)
    reproduced independently with hashlib and plain integer math —
    pinning the full signature contract (60-bit hash, Mersenne-prime
    family, per-component mins) beyond the DuckDB oracle."""
    import hashlib

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        A,
        B,
        P,
        minhash_signatures,
        shingle_hashes,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(shingle_hashes(df)).collect()}

    want = {}
    for doc_id, text in docs:
        toks = text.split()
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }  # distinct 3-gram shingles
        hs = {
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh
        }
        want[doc_id] = tuple(
            min((A[k] * (h % P) + B[k]) % P for h in hs) for k in range(8)
        )
    assert got == want


def test_containment_join_catches_subsumption_jaccard_misses(spark):
    """The differentiating case: a short document quoted wholesale
    inside a much longer one — jaccard(A,B) = |A|/|B| is far below
    any dedup threshold, but containment(A→B) = 1.  The symmetric
    prefix join must NOT pair them; the containment join MUST, in the
    A→B direction only.  Also: an exact duplicate pair appears in
    BOTH orderings with containment 1, and the prefix-pruned result
    equals the brute-force all-pairs answer on a random corpus."""
    import itertools
    import random

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import (
        prefix_containment_join,
        prefix_jaccard_join,
        shingle_hashes,
    )

    rng = random.Random(11)
    short = " ".join(f"q{i}" for i in range(20))              # the quote
    long_doc = short + " " + " ".join(f"w{i}" for i in range(200))
    rows = [(0, short), (1, long_doc), (2, short), (3, " ".join(f"z{i}" for i in range(50)))]
    # random filler corpus so prefix pruning has something to prune
    for d in range(4, 40):
        k = rng.randint(10, 60)
        rows.append((d, " ".join(f"r{rng.randint(0, 400)}x{j}" for j in range(k))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)

    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in prefix_containment_join(sh, 800).collect()
    }
    jacc = {
        (r.doc_a, r.doc_b)
        for r in prefix_jaccard_join(sh, 800).collect()
    }
    assert (0, 1) in cont and cont[(0, 1)] == 1.0   # quote subsumed
    assert (1, 0) not in cont                        # not the other way
    assert (0, 1) not in jacc and (1, 0) not in jacc  # jaccard blind to it
    assert cont[(0, 2)] == 1.0 and cont[(2, 0)] == 1.0  # exact dup, both ways

    # recall proof at operator level: prefix-pruned == brute force
    sh_rows = sh.collect()
    sets: dict[int, set] = {}
    for r in sh_rows:
        sets.setdefault(r.doc_id, set()).add(r.h)
    brute = set()
    for a, b in itertools.permutations(sets, 2):
        inter = len(sets[a] & sets[b])
        if inter * 1000 >= 800 * len(sets[a]):
            brute.add((a, b))
    assert set(cont) == brute


def test_source_overlap_exact_matches_pairwise_sets(spark):
    """The inverted-index matrix equals brute-force per-source set
    algebra and covers every overlapping pair exactly once (src_a <
    src_b)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import source_overlap

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = shingle_hashes(docs).persist()
    src = docs.select("doc_id", "source")
    got = {
        (r.src_a, r.src_b): (r.shared, r.jaccard)
        for r in source_overlap(sh, src).collect()
    }

    sets = {
        r["source"]: set(r["hs"])
        for r in sh.join(src, "doc_id")
        .groupBy("source")
        .agg(F.collect_set("h").alias("hs"))
        .collect()
    }
    names = sorted(sets)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                assert (a, b) not in got
                continue
            shared, jac = got[(a, b)]
            assert shared == inter
            assert abs(jac - round(inter / len(sets[a] | sets[b]), 6)) < 1e-12
    assert len(got) == sum(
        1
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if sets[a] & sets[b]
    )
    sh.unpersist()


def test_paragraph_dedup_matches_bruteforce(spark):
    """paragraph_dedup vs a brute-force Python re-derivation on a
    corpus with planted boilerplate (a header shared by 5 docs),
    cross-doc quoted passages, a within-doc repeat, and a ragged
    trailing segment — every verdict kind exercised."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup

    W, K = 3, 4
    header = "terms of service"  # 3 tokens -> 1 boiler segment in 5 docs
    quote = "alpha beta gamma delta echo foxtrot"  # 2 segments, quoted by doc 7
    rows = [
        (1, f"{header} unique one text here body ends"),
        (2, f"{header} other words flow into the night"),
        (3, f"{header} {quote} tail bit"),
        (4, f"{header} fourth document body entirely distinct words"),
        (5, f"{header} fifth doc again with different content"),
        (6, "free standing doc with no shared segments at all"),
        (7, f"prefix pad pad {quote} suffix pad pad"),  # quotes doc 3
        (8, "rep rep rep rep rep rep rep rep rep"),  # within-doc repeat
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(docs, W, K).collect()}

    # brute force
    segs = {}
    for did, text in rows:
        w = [t for t in text.split(" ") if t]
        segs[did] = [
            " ".join(w[i : i + W]) for i in range(0, len(w), W)
        ]
    first = {}
    ndocs = {}
    for did, text in rows:
        for idx, s in enumerate(segs[did]):
            first.setdefault(s, (did, idx))
            ndocs.setdefault(s, set()).add(did)
    assert max(len(d) for d in ndocs.values()) == 5  # the header
    for did, text in rows:
        kept, dup, boiler = [], 0, 0
        for idx, s in enumerate(segs[did]):
            if len(ndocs[s]) >= K:
                boiler += 1
            elif first[s] != (did, idx):
                dup += 1
            else:
                kept.append(s)
        r = got[did]
        assert r.n_segments == len(segs[did])
        assert (r.n_kept, r.n_dup, r.n_boiler) == (len(kept), dup, boiler)
        assert r.kept_text == " ".join(kept)
    # the planted semantics surfaced: header boilered everywhere,
    # doc 7's quoted segments dropped as dups of doc 3's, doc 8
    # collapsed to its first segment
    assert got[1].n_boiler == 1 and got[5].n_boiler == 1
    assert got[7].n_dup == 2
    assert got[8].kept_text == "rep rep rep"
    assert got[6].n_kept == got[6].n_segments


def test_paragraph_dedup_random_corpora_differential(spark):
    """Randomized differential: three corpora with overlapping random
    segments (deterministic seeds) vs the pure-Python re-derivation —
    the keep-first/boiler semantics must hold for arbitrary overlap
    structure, not just the crafted fixture."""
    import random

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup

    for trial in range(3):
        rng = random.Random(100 + trial)
        W, K = rng.choice([(3, 3), (4, 2), (5, 4)])
        # build docs by stitching from a small shared segment pool so
        # repeats happen across and within docs
        pool = [
            " ".join(rng.choice("abcdefgh") + str(rng.randint(0, 9)) for _ in range(W))
            for _ in range(12)
        ]
        rows = []
        for did in range(20):
            segs = [rng.choice(pool) for _ in range(rng.randint(1, 6))]
            tail = " ".join(
                rng.choice("xyz") + str(rng.randint(0, 99))
                for _ in range(rng.randint(0, W - 1))  # ragged tail
            )
            text = " ".join(segs) + (" " + tail if tail else "")
            rows.append((did, text))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in paragraph_dedup(docs, W, K).collect()}

        segs_by_doc, first, ndocs = {}, {}, {}
        for did, text in rows:
            w = [t for t in text.split(" ") if t]
            segs_by_doc[did] = [" ".join(w[i : i + W]) for i in range(0, len(w), W)]
        for did, _ in rows:
            for idx, sg in enumerate(segs_by_doc[did]):
                first.setdefault(sg, (did, idx))
                ndocs.setdefault(sg, set()).add(did)
        for did, _ in rows:
            kept, dup, boiler = [], 0, 0
            for idx, sg in enumerate(segs_by_doc[did]):
                if len(ndocs[sg]) >= K:
                    boiler += 1
                elif first[sg] != (did, idx):
                    dup += 1
                else:
                    kept.append(sg)
            r = got[did]
            assert (
                r.n_segments,
                r.n_kept,
                r.n_dup,
                r.n_boiler,
                r.kept_text,
            ) == (len(segs_by_doc[did]), len(kept), dup, boiler, " ".join(kept)), (
                trial,
                did,
            )


def test_paragraph_dedup_empty_and_whitespace_docs(spark):
    """Zero-token docs produce ZERO segments and drop out (the oracle's
    range(0) semantics) — a bare sequence(0, -1) would fabricate two
    phantom segments per empty doc."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup

    rows = [(1, ""), (2, "   "), (3, "real words in this one here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(docs, 3, 4).collect()}
    assert set(got) == {3}
    assert got[3].n_segments == 2 and got[3].n_kept == 2


def test_paragraph_dedup_keep_first_survives_60bit_doc_ids(spark):
    """Keep-first must order by (doc_id, seg_idx) even for the WARC
    ingest's md5-derived 60-bit ids.  The retired packed int64 key
    doc_id * 2^20 + seg_idx wrapped at doc_id = 2^43: 2^43 * 2^20 =
    2^63 overflows to the MOST NEGATIVE long, so the huge-id doc would
    have (wrongly) won keep-first over doc_id 1."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import paragraph_dedup

    shared = "alpha beta gamma"
    rows = [
        (1, f"{shared} unique low words"),
        (1 << 43, f"{shared} unique high words"),
        (1 << 59, "another body entirely distinct"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(docs, 3, 4).collect()}
    assert got[1].n_kept == 2 and got[1].n_dup == 0
    assert got[1 << 43].n_dup == 1 and got[1 << 43].n_kept == 1
    assert shared in got[1].kept_text and shared not in got[1 << 43].kept_text


def test_lsh_recall_audit_sampled_tracks_full(spark):
    """The corpus-scale sampling knob on the LSH recall audit (the
    pre-flight check for a 100 TB dedup): a deterministic md5
    doc-bucket sample feeds BOTH arms, and because a pair's LSH
    hit/miss depends only on its own two signatures, the sampled
    recall ratio estimates the full-set ratio.  Everything here is
    deterministic (md5 buckets, fixed fixture), so the tolerance is a
    correctness pin, not a flake guard."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload.dedup import q_lsh_recall

    sf_dir = "/root/testdata/sf0.01"
    full = q_lsh_recall(spark, sf_dir).collect()[0]
    sampled = q_lsh_recall(spark, sf_dir, sample_permille=500).collect()[0]
    # the sample genuinely shrinks the expensive exact arm ...
    assert 0 < sampled.n_true < full.n_true
    assert sampled.n_candidates < full.n_candidates
    # ... while estimating the same recall ratio
    assert abs(sampled.recall_ppm - full.recall_ppm) <= 100_000


def test_exact_dedup_keep_newest_null_timestamps(spark):
    """Operator-level pin of the keep-newest tie rules (the oracle
    row q_dedup_keep_newest covers the table-scale path): a non-null
    fetch always beats a null one (struct comparison puts nulls
    first, so max prefers real timestamps), an all-null digest group
    falls back to the greatest id, and exact-timestamp ties break by
    greatest id — the same winner the funnel's --dedup keep-newest
    stage picks."""
    import datetime as _dt

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import exact_dedup_keep_newest

    t1 = _dt.datetime(2025, 3, 1)
    t2 = _dt.datetime(2026, 2, 1)
    rows = [
        # digest A: null ts loses to real ts, even a smaller id's
        (10, "same text A", t1),
        (11, "same text A", None),
        (12, "same text A", t2),
        # digest B: all null -> greatest id survives
        (20, "same text B", None),
        (21, "same text B", None),
        # digest C: exact tie on ts -> greatest id
        (30, "same text C", t1),
        (31, "same text C", t1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, fetched_at timestamp"
    )
    got = {
        r.keep_doc_id: r for r in exact_dedup_keep_newest(df).collect()
    }
    assert set(got) == {12, 21, 31}
    assert got[12].n_copies == 3 and got[12].keep_fetched == t2
    assert got[21].n_copies == 2 and got[21].keep_fetched is None
    assert got[31].n_copies == 2 and got[31].keep_fetched == t1


def test_production_hash_mode_identical_minhash_decisions(spark):
    """r11 (VERDICT r10 #5): the xxhash64 production scan is a FLAG,
    not a rewrite — shingle_hashes(hash_fn=xxhash64_int) feeds the
    unchanged signatures -> LSH -> jaccard-verify chain and must
    reach the SAME verified near-dup decisions (pairs AND jaccard
    values: jaccard is a set ratio over shingle hashes, identical
    under any collision-free hash) the md5 verification contract
    reaches on the sf0.01 documents table.  Also pins the domain
    contract: xxhash64_int lands in md5_int's non-negative 60-bit
    range, preserving the universal family's overflow-freedom."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import md5_int, xxhash64_int

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    decisions = {}
    for mode, fn in (("md5", md5_int), ("xxhash64", xxhash64_int)):
        hashes = shingle_hashes(docs, hash_fn=fn)
        sigs = minhash_signatures(hashes)
        cands = lsh_candidates(sigs)
        verified = ngram_jaccard_pairs(hashes, 0.8, candidates=cands)
        decisions[mode] = {
            (r.doc_a, r.doc_b): round(r.jaccard, 9) for r in verified.collect()
        }
    assert decisions["md5"] == decisions["xxhash64"]
    assert len(decisions["md5"]) == 25  # the corpus's known near-dup set
    lo, hi = (
        shingle_hashes(docs, hash_fn=xxhash64_int)
        .selectExpr("min(h)", "max(h)")
        .first()
    )
    assert lo >= 0 and hi < 2**60


