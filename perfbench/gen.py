"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and is deterministic in
it.  Inputs are written once per (workload, seed, size) into the
checkout-local cache directory and re-used by later runs; each
generator returns a small ``props`` dict with the input properties the
program's behaviour depends on, which the benchmark prints with its
result.

* ``biarcs_corpus`` -- syntactic-ngram lines (``head<TAB>ngram<TAB>count
  <TAB>year,count``) with a Zipfian vocabulary grouped into semantic
  classes: a head word's dependents come mostly from its class's own
  context words, so same-class words have similar feature vectors and
  the RandomForest step has a real signal to find.  About 1% of lines
  are malformed in one of the ways the parser must drop: wrong tab
  arity (row dropped), a three-part quad (token dropped) or an
  out-of-range head pointer (token dropped).
* ``hub_gold`` -- gold word pairs shaped like the reference's
  word-relatedness list: a few hub words, each paired with dozens of
  relata; a pair is related when both words share a class.
* ``stream_batches`` -- one parquet file per micro-batch of
  ``(doc_id, text, fetched_at)`` documents cut from a ``documents``
  table, where later batches carry exact re-crawls of earlier
  documents with a newer ``fetched_at``, with the corpus each prefix
  of the batches must leave behind.

The registry queries read the sf0.01 tables shipped in ``data/``; they
are not generated.
"""

from __future__ import annotations

import datetime
import hashlib
import inspect
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def fingerprint() -> str:
    """Short hash of this file: part of every cache key, so inputs
    cached by an older generator are never reused."""
    with open(__file__, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:10]


#: worker memo capacity of the stem rewrite (sources/biarcs.py
#: ``_CACHE_MAX``); the corpus props report the working set against it
STEM_MEMO_ENTRIES = 1 << 20

_SUFFIXES = ["", "s", "ing", "ed", "ation", "ness", "er", "ly", "ive", "ment"]
_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")
_POS = ["NN", "VB", "JJ", "IN", "RB", "DT"]
_DEPS = ["nsubj", "dobj", "prep", "amod", "conj", "pobj", "det", "advmod"]


def _roots(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable roots of 2-4 consonant-vowel pairs."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(
            _CONSONANTS[int(rng.integers(len(_CONSONANTS)))]
            + _VOWELS[int(rng.integers(len(_VOWELS)))]
            for _ in range(k)
        ) + _CONSONANTS[int(rng.integers(len(_CONSONANTS)))]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


class Vocabulary:
    """Roots grouped into classes; a word is a root plus a suffix, so
    the Porter stemmer folds a root's variants back together and
    every variant keeps its root's class."""

    def __init__(self, seed: int, n_roots: int, n_classes: int):
        rng = np.random.default_rng([seed, 1])
        self.roots = _roots(rng, n_roots)
        self.root_class = rng.integers(0, n_classes, size=n_roots)
        self.n_classes = n_classes


def biarcs_corpus(
    path: str, seed: int, n_lines: int, vocab: Vocabulary, malformed: float = 0.01
) -> dict:
    """Write ``n_lines`` biarcs lines to ``path``; returns the props."""
    rng = np.random.default_rng([seed, 2])
    n_roots = len(vocab.roots)
    head_p = _zipf_weights(n_roots, 1.05)
    # each class draws most context words from its own Zipfian list
    ctx_size = min(100, n_roots)
    ctx = rng.integers(0, n_roots, size=(vocab.n_classes, ctx_size))
    dep_cum = np.cumsum(rng.dirichlet(np.ones(len(_DEPS)), size=vocab.n_classes), axis=1)

    heads = rng.choice(n_roots, size=n_lines, p=head_p)
    n_tok = rng.integers(2, 6, size=n_lines)
    counts = rng.integers(1, 1000, size=n_lines)
    kinds = rng.random(n_lines)
    # per-token draws, vectorized; token j of line i sits at starts[i] + j
    total = int(n_tok.sum())
    starts = np.concatenate([[0], np.cumsum(n_tok)[:-1]])
    line_of = np.repeat(np.arange(n_lines), n_tok)
    pos_in = np.arange(total) - starts[line_of]
    cls = vocab.root_class[heads][line_of]
    from_ctx = rng.random(total) < 0.85
    ctx_pick = ctx[cls, rng.choice(ctx_size, size=total, p=_zipf_weights(ctx_size, 0.9))]
    glob_pick = rng.choice(n_roots, size=total, p=head_p)
    root = np.where(pos_in == 0, heads[line_of], np.where(from_ctx, ctx_pick, glob_pick))
    # most dependents hang off the head word (1), some off a sibling
    sib = 2 + (rng.random(total) * (n_tok[line_of] - 1)).astype(np.int64)
    head = np.where(pos_in == 0, 0, np.where(rng.random(total) < 0.8, 1, sib))
    head = np.where(head == pos_in + 1, 1, head)
    dep = (dep_cum[cls] < rng.random(total)[:, None]).sum(axis=1)
    dep = np.minimum(dep, len(_DEPS) - 1)
    suffix = rng.integers(0, len(_SUFFIXES), size=total)
    pos = rng.integers(0, len(_POS), size=total)
    words = [vocab.roots[r] + _SUFFIXES[s] for r, s in zip(root.tolist(), suffix.tolist())]
    toks = [
        f"{w}/{_POS[p]}/{_DEPS[d]}/{h}"
        for w, p, d, h in zip(words, pos.tolist(), dep.tolist(), head.tolist())
    ]

    m = malformed / 3
    n_bad = {"arity": 0, "bad_quad": 0, "head_out_of_range": 0}
    quads_seen: set[str] = set()
    lines = []
    for i in range(n_lines):
        a, n = int(starts[i]), int(n_tok[i])
        line_toks = toks[a:a + n]
        k = kinds[i]
        if k < m:
            n_bad["arity"] += 1
            lines.append(f"{words[a]}\t{' '.join(line_toks)}\n")
            continue
        if k < 2 * m:
            n_bad["bad_quad"] += 1
            line_toks[-1] = line_toks[-1].rsplit("/", 1)[0]
        elif k < 3 * m:
            n_bad["head_out_of_range"] += 1
            line_toks[-1] = line_toks[-1].rsplit("/", 1)[0] + f"/{n + 1}"
        quads_seen.update(line_toks)
        cnt = int(counts[i])
        lines.append(f"{words[a]}\t{' '.join(line_toks)}\t{cnt}\t2000,{cnt}\n")
    _write_text(path, lines)
    return {
        "lines": n_lines,
        "bytes": os.path.getsize(path),
        "distinct_words": len(set(words)),
        "distinct_quads": len(quads_seen),
        "quads_over_memo_cap": round(len(quads_seen) / STEM_MEMO_ENTRIES, 4),
        "malformed": n_bad,
    }


def hub_gold(
    path: str, seed: int, vocab: Vocabulary, n_hubs: int, relata_per_hub: int,
    p_related: float = 0.1, frequent: int = 800,
) -> dict:
    """Write hub-shaped gold pairs; returns the props (pairs, related
    pairs, fan-out per hub lexeme)."""
    rng = np.random.default_rng([seed, 3])
    # hubs and relata are frequent words (low Zipf rank), as in the
    # reference list, so both sides of a pair have feature vectors
    n_roots = min(len(vocab.roots), frequent)
    by_class = [np.flatnonzero(vocab.root_class[:n_roots] == c) for c in range(vocab.n_classes)]
    hubs = rng.choice(min(n_roots, n_hubs * 4), size=n_hubs, replace=False)
    pairs: dict[tuple[int, int], bool] = {}
    fanout = []
    for h in hubs:
        h = int(h)
        c = int(vocab.root_class[h])
        got = 0
        for _ in range(relata_per_hub * 4):
            if got == relata_per_hub:
                break
            related = bool(rng.random() < p_related) and len(by_class[c]) > 1
            pool = by_class[c] if related else np.arange(n_roots)
            o = int(pool[int(rng.integers(len(pool)))])
            if o == h or (h, o) in pairs or (o, h) in pairs:
                continue
            pairs[(h, o)] = bool(vocab.root_class[o] == c)
            got += 1
        fanout.append(got)
    # gold words are bare roots, one line per unordered pair of roots
    _write_text(
        path,
        [f"{vocab.roots[a]}\t{vocab.roots[b]}\t{rel}\n" for (a, b), rel in pairs.items()],
    )
    return {
        "pairs": len(pairs),
        "related": sum(pairs.values()),
        "hubs": n_hubs,
        "fanout_per_hub_median": float(np.median(fanout)),
        "fanout_per_hub_max": int(max(fanout)),
    }


# ---------------------------------------------------------------- stream


def _tokens(text: str) -> list[str]:
    """``operators.dedup.tokens``: split on single spaces, empties dropped."""
    return [t for t in text.split(" ") if t]


def _signature(toks: list[str]) -> list[int]:
    """``operators.dedup.minhash_signatures`` of the document's word
    3-gram ``shingle_hashes`` (``md5_int``), computed in Python."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import A, B, P

    hs = {int(hashlib.md5(" ".join(toks[i:i + 3]).encode()).hexdigest()[:15], 16)
          for i in range(len(toks) - 2)}
    return [min((a * (h % P) + b) % P for h in hs) for a, b in zip(A, B)]


def stream_batches(
    src_dir: str, documents: str, seed: int, n_batches: int, docs_per_batch: int,
    recrawl: float = 0.1,
) -> dict:
    """Cut ``n_batches`` one-file micro-batches from the ``documents``
    table; returns the props plus, for every prefix of the batches, the
    outcome keep-newest curation must produce.

    The seed draws which documents arrive in which batch.  Documents
    the quality gate rejects arrive as they are.  Of the gate-passing
    documents whose minhash signatures agree on at least ``min_agree``
    components (the table's near-copies), only the first by doc_id is
    a candidate, so every fresh arrival that passes the gate is
    admitted.  In every batch after the first, ``recrawl`` of the rows
    are exact copies of documents admitted by an earlier batch, under a
    new doc_id and a newer ``fetched_at``: each supersedes its
    predecessor.  The gate thresholds and ``min_agree`` are
    ``run_streaming_curation``'s defaults.
    """
    from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
        run_streaming_curation,
    )

    kw = inspect.signature(run_streaming_curation).parameters
    min_tokens, min_ttr, min_agree = (kw[k].default for k in ("min_tokens", "min_ttr", "min_agree"))
    rows = sorted(pq.read_table(documents, columns=["doc_id", "text"]).to_pylist(),
                  key=lambda r: r["doc_id"])
    pool, sigs = [], []
    for r in rows:
        toks = _tokens(r["text"])
        passes = len(toks) >= min_tokens and len(set(toks)) / len(toks) >= min_ttr
        if passes:
            sig = _signature(toks)
            if any(sum(x == y for x, y in zip(sig, s)) >= min_agree for s in sigs):
                continue
            sigs.append(sig)
        pool.append((r["doc_id"], r["text"], passes))

    rng = np.random.default_rng([seed, 5])
    n_re = [int(round(docs_per_batch * recrawl)) if b else 0 for b in range(n_batches)]
    fresh = [pool[int(i)] for i in
             rng.choice(len(pool), size=n_batches * docs_per_batch - sum(n_re), replace=False)]
    os.makedirs(src_dir, exist_ok=True)
    next_id = rows[-1]["doc_id"] + 1
    admitted: list[str] = []
    n_admitted = n_recrawl = 0
    expect = []
    for b in range(n_batches):
        batch = [(next_id + k, admitted[int(i)], True)
                 for k, i in enumerate(rng.choice(len(admitted), size=n_re[b], replace=False))]
        next_id += n_re[b]
        batch += [fresh.pop() for _ in range(docs_per_batch - n_re[b])]
        n_recrawl += n_re[b]
        new = [text for _, text, passes in batch[n_re[b]:] if passes]
        admitted += new
        n_admitted += len(new)
        expect.append({
            "visible": n_admitted,
            "corpus_rows": n_admitted + n_recrawl,
            "digests": n_admitted + n_recrawl,
            "kept": sum(passes for _, _, passes in batch),
        })
        pq.write_table(
            pa.table({
                "doc_id": pa.array([d for d, _, _ in batch], pa.int64()),
                "text": [t for _, t, _ in batch],
                "fetched_at": pa.array(
                    [datetime.datetime(2026, 1, 1) + datetime.timedelta(days=b, seconds=k)
                     for k in range(len(batch))], pa.timestamp("us")),
            }),
            os.path.join(src_dir, f"batch_{b:03d}.parquet"),
        )
    total = n_batches * docs_per_batch
    return {
        "batches": n_batches,
        "docs_per_batch": docs_per_batch,
        "candidates": len(pool),
        "near_copies_skipped": len(rows) - len(pool),
        "gated_share": round(sum(not p for _, _, p in pool) / len(pool), 4),
        "recrawl_share": round(n_recrawl / total, 4),
        "expect_after_batch": expect,
    }

def _write_text(path: str, lines: list[str]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.replace(tmp, path)
