"""Pure-Python oracle reproducing the reference pipeline's semantics
bit-for-bit (modulo floating-point summation order).

This is the golden-test comparator for the Spark pipeline: tiny inputs
in, exact expected relations out.  It deliberately mirrors the
*reference's* mechanics — Java split semantics (trailing empty strings
removed), the stream-pairing reducer with ZEROS fill (Step4.java:196-247),
the JS accumulator-reset quirk (Step4.java:355-359) — so any divergence
between engine and reference shows up here first.
"""

from __future__ import annotations

import math
import sys
from collections import Counter, defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from semantic_similarity_system_using_aws_mapreduce_spark.functions.stemming import porter_stem

#: the reference checkout, whose sample inputs the golden tests name
REFERENCE_DIR = Path("/root/reference")

#: reference input -> committed stand-in (FIXTURES.md A1/A2)
_STANDINS = {
    "small-sample.txt": "biarcs_sample.txt",
    "test_gold_standard.txt": "gold_small.txt",
    "word-relatedness.txt": "gold_pairs.txt",
}


def is_reference(path) -> bool:
    """True when ``path`` names a reference input that exists here."""
    return Path(path).parent == REFERENCE_DIR and Path(path).exists()


def reference_input(path) -> str:
    """The reference input ``path`` where it exists, else its committed
    stand-in under ``tests/data/``."""
    if is_reference(path):
        return str(path)
    return str(Path(__file__).resolve().parent / "data" / _STANDINS[Path(path).name])


def java_split(s: str, sep: str) -> list[str]:
    """Java String.split: trailing empty strings are removed."""
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def step1_counts(lines):
    """-> (counts dict keyed ('l', lex) / ('f', feat) / ('lf', lex, feat), total L)."""
    counts: Counter = Counter()
    total = 0
    for line in lines:
        fields = java_split(line.rstrip("\n"), "\t")
        if len(fields) < 4:
            continue
        count_str = fields[2]
        words = java_split(fields[1], " ")
        rewritten = []
        for w in words:
            slash = w.find("/")
            if slash < 0:
                rewritten.append(w)
                continue
            old = w[:slash]
            new = porter_stem(old)
            rewritten.append(w.replace(old, new) if old else w)
        parts = [java_split(w, "/") for w in rewritten]
        for p in parts:
            try:
                if len(p) != 4:
                    continue
                pointer = int(p[3])
                if pointer <= 0:
                    # 0 = root (skipped); negative would wrap via Python
                    # negative indexing — the reference throws
                    # ArrayIndexOutOfBounds (caught) and the engine's
                    # F.get returns NULL, so both drop the token
                    continue
                lex = parts[pointer - 1][0]
                feat = p[0] + "-" + p[2]
                c = int(count_str)
                counts[("l", lex)] += c
                counts[("f", feat)] += c
                counts[("lf", lex, feat)] += c
                total += c
            except (ValueError, IndexError):
                continue
    return counts, total


def assoc_measures(counts, total, mode="parity"):
    """-> {(lexeme, feature): (freq, prob, pmi, ttest)}"""
    L = float(total)
    Ftot = float(total)
    out = {}
    for key, lf in counts.items():
        if key[0] != "lf":
            continue
        _, lex, feat = key
        l = counts[("l", lex)]
        f = counts[("f", feat)]
        if l == 0 or f == 0 or lf == 0:
            continue
        freq = float(lf)
        prob = lf / l
        pmi = (Ftot * lf) / (l * f)
        if mode == "standard":
            pmi = math.log2(pmi)
        ttest = ((lf / L) - ((l / L) * (f / Ftot))) / math.sqrt((l / L) * (f / Ftot))
        out[(lex, feat)] = (freq, prob, pmi, ttest)
    return out


def load_gold(path):
    """-> {lexeme: set of (other, is_w1, related_str)} with stemmed words."""
    gold = defaultdict(set)
    for line in open(path):
        parts = line.split()
        if len(parts) != 3:
            continue
        w1, w2, rel = porter_stem(parts[0]), porter_stem(parts[1]), parts[2]
        gold[w1].add((w2, True, rel))
        gold[w2].add((w1, False, rel))
    return gold


def pair_vectors(assoc, gold, mode="parity", js_reset_quirk=True):
    """Reproduce the Step4 reducer: -> {(w1, w2, related_bool): [24 floats]}.

    Vector order: {freq,prob,pmi,ttest} x {manhattan, euclidean,
    cosine, jaccard, dice, js} (Step5.java:80-86).
    """
    groups = defaultdict(list)  # (w1, w2, rel) -> [(feature, lexeme, vals)]
    for (lex, feat), vals in assoc.items():
        for other, is_w1, rel in gold.get(lex, ()):
            w1, w2 = (lex, other) if is_w1 else (other, lex)
            groups[(w1, w2, rel)].append((feat, lex, vals))

    out = {}
    for (w1, w2, rel), rows in groups.items():
        rows.sort(key=lambda r: r[0])
        manhattan = [0.0] * 4
        euclid = [0.0] * 4
        cos = [[0.0] * 3 for _ in range(4)]
        jac = [[0.0] * 2 for _ in range(4)]
        dice = [[0.0] * 2 for _ in range(4)]
        js = [[0.0] * 2 for _ in range(4)]

        def diff(v1, v2):
            """v1 = w1's values, v2 = w2's (Step4.java:308-324)."""
            for i in range(4):
                x, y = v1[i], v2[i]
                manhattan[i] += abs(x - y)
                if mode == "parity":
                    euclid[i] += (x + y) * (x + y)
                else:
                    euclid[i] += (x - y) * (x - y)
                cos[i][0] += x * y
                cos[i][1] += x * x
                cos[i][2] += y * y
                jac[i][0] += min(x, y)
                jac[i][1] += max(x, y)
                dice[i][0] += min(x, y)
                dice[i][1] += x + y
                mean = (x + y) / 2.0
                if js_reset_quirk and x == 0 and y == 0:
                    js[i][0] = 0.0
                    js[i][1] = 0.0
                    continue
                js[i][0] += x * math.log(x / mean) if (x > 0 and mean > 0) else 0.0
                js[i][1] += y * math.log(y / mean) if (y > 0 and mean > 0) else 0.0

        zeros = (0.0, 0.0, 0.0, 0.0)
        last = None  # (feature, lexeme, vals)
        for row in rows:
            if last is None:
                last = row
                continue
            if last[0] == row[0]:  # same feature: complete pair
                if last[1] == w1:
                    diff(last[2], row[2])
                else:
                    diff(row[2], last[2])
                last = None
            else:  # incomplete pair: zero-fill
                if last[1] == w1:
                    diff(last[2], zeros)
                else:
                    diff(zeros, last[2])
                last = row
        if last is not None:
            if last[1] == w1:
                diff(last[2], zeros)
            else:
                diff(zeros, last[2])

        vec = []
        for i in range(4):
            vec.append(float("inf") if math.isnan(manhattan[i]) else manhattan[i])
            if euclid[i] < 0 or math.isnan(euclid[i]):
                vec.append(float("inf"))
            else:
                vec.append(math.sqrt(euclid[i]))
            denom = math.sqrt(cos[i][1]) * math.sqrt(cos[i][2])
            c = cos[i][0] / denom if denom else float("nan")
            if cos[i][1] <= 0 or cos[i][2] <= 0 or math.isnan(c):
                vec.append(0.0)
            else:
                vec.append(c)
            if jac[i][1] == 0 or math.isnan(jac[i][0] / jac[i][1]):
                vec.append(0.0)
            else:
                vec.append(jac[i][0] / jac[i][1])
            if dice[i][1] == 0 or math.isnan(2 * dice[i][0] / dice[i][1]):
                vec.append(0.0)
            else:
                vec.append(2 * dice[i][0] / dice[i][1])
            s = js[i][0] + js[i][1]
            vec.append(float("inf") if math.isnan(s) else s)
        out[(w1, w2, rel.lower() == "true")] = vec
    return out
