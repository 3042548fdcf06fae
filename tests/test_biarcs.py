"""Corpus parsing (P1-P10) and counting (A1-A3) vs the pure-Python
reference oracle."""

from pathlib import Path

from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts
from semantic_similarity_system_using_aws_mapreduce_spark.sources.biarcs import read_biarcs, token_emissions

from reference_oracle import is_reference, reference_input, step1_counts

SMALL_SAMPLE = reference_input("/root/reference/small-sample.txt")


def _oracle_total(path):
    return step1_counts(open(path).read().splitlines())[1]


def _engine_counts(spark, path):
    corpus = read_biarcs(spark, path)
    c = corpus_counts(token_emissions(corpus))
    lex = {r.lexeme: r.l_count for r in c.lexeme_counts.collect()}
    feat = {r.feature: r.f_count for r in c.feature_counts.collect()}
    pair = {(r.lexeme, r.feature): r.lf_count for r in c.pair_counts.collect()}
    totals = c.totals.collect()[0]
    return lex, feat, pair, totals


def test_counts_match_reference_oracle(spark):
    oracle, oracle_total = step1_counts(open(SMALL_SAMPLE).read().splitlines())
    lex, feat, pair, totals = _engine_counts(spark, SMALL_SAMPLE)
    assert lex == {k[1]: v for k, v in oracle.items() if k[0] == "l"}
    assert feat == {k[1]: v for k, v in oracle.items() if k[0] == "f"}
    assert pair == {(k[1], k[2]): v for k, v in oracle.items() if k[0] == "lf"}
    assert totals.L == totals.F == oracle_total


def test_totals_match_reference_oracle(spark):
    """L and F re-aggregate ``pair_counts`` (no second pass over the
    emissions) and equal the oracle's corpus totals."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.counts import corpus_counts

    corpus = read_biarcs(spark, SMALL_SAMPLE)
    totals = corpus_counts(token_emissions(corpus)).totals.first()
    assert totals.L == totals.F == _oracle_total(SMALL_SAMPLE)
    if is_reference(SMALL_SAMPLE):
        assert totals.L == 16024


def test_malformed_rows_dropped(spark, tmp_path):
    fixture = tmp_path / "corpus.txt"
    fixture.write_text(
        "\n".join(
            [
                # well-formed: 2 tokens, token1 heads to token2
                "head\tdogs/NNS/nsubj/2 ran/VBD/ROOT/0\t7\t2000,7",
                "too\tfew\tfields",  # < 4 tab fields -> dropped (P9)
                "head\tdogs/NNS/nsubj/2 ran/VBD/ROOT/0\tNOTNUM\t2000,1",  # bad count
                "head\tbad-token ran/VBD/ROOT/0\t5\t2000,5",  # no slash -> token dropped
                "head\ta/B/c/9 ran/VBD/ROOT/0\t3\t2000,3",  # pointer out of bounds
                "head\ta/B/c ran/VBD/ROOT/0\t2\t2000,2",  # 3-part quad -> dropped
                "head\troot/NN/ROOT/0\t9\t2000,9",  # head_idx 0 -> root filter (P6)
            ]
        )
    )
    corpus = read_biarcs(spark, str(fixture))
    rows = token_emissions(corpus).collect()
    # Only the first row's first token emits: lexeme = stemmed 'ran'
    # (head deref), feature = stem('dogs') + '-' + nsubj.
    assert [(r.lexeme, r.feature, r["count"]) for r in rows] == [("ran", "dog-nsubj", 7)]


def test_stem_rewrite_replaces_all_occurrences(spark, tmp_path):
    """P4 quirk: String.replace swaps EVERY occurrence of the surface
    word inside the quad (Step1.java:45) — e.g. a word equal to its dep
    label."""
    fixture = tmp_path / "corpus.txt"
    # stem('meetings') = 'meet'; dep label also 'meetings'.
    fixture.write_text("h\tmeetings/NNS/meetings/2 x/NN/dep/0\t1\t2000,1\n")
    corpus = read_biarcs(spark, str(fixture))
    assert corpus.collect()[0].tokens == ["meet/NNS/meet/2", "x/NN/dep/0"]


def test_gzip_corpus(spark, tmp_path):
    """The real biarcs corpus ships gzipped; text scan must read .gz
    transparently with identical results."""
    import gzip
    import shutil

    gz = tmp_path / "sample.txt.gz"
    with open(SMALL_SAMPLE, "rb") as fin, gzip.open(gz, "wb") as fout:
        shutil.copyfileobj(fin, fout)
    counts = corpus_counts(token_emissions(read_biarcs(spark, str(gz))))
    total = counts.totals.collect()[0].L
    assert total == _oracle_total(SMALL_SAMPLE)
    if is_reference(SMALL_SAMPLE):
        assert total == 16024


def test_counts_by_year_parsing(spark, tmp_path):
    fixture = tmp_path / "corpus.txt"
    fixture.write_text("h\ta/NN/dep/0\t10\t1999,3\t2000,7\n")
    corpus = read_biarcs(spark, str(fixture), keep_years=True)
    assert corpus.collect()[0].counts_by_year == {1999: 3, 2000: 7}
