"""Tests for dedup.ngram_jaccard_pairs (prefix-filtered exact
set-similarity join), verified against an independent brute-force
Python computation on randomized-but-seeded inputs: the Spark plan is
the scale shape, the brute force is the semantics.
"""

import itertools
import random

from causalre_spark.functions.text import normalize
from causalre_spark.operators import dedup


def _brute_jaccard_pairs(texts, n, thd_num, thd_den):
    def shingles(t):
        toks = normalize(t).split(" ")
        m = max(1, len(toks) - (n - 1))
        return {" ".join(toks[i:i + n]) for i in range(m)}

    sets = {i: shingles(t) for i, t in texts}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter and thd_den * inter >= thd_num * union:
            out[(a, b)] = (inter, union)
    return out


def test_ngram_jaccard_prefix_filter_lossless(spark):
    rng = random.Random(13)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    texts = []
    for i in range(36):
        base = [rng.choice(vocab) for _ in range(rng.randrange(4, 12))]
        texts.append((i, " ".join(base)))
        if rng.random() < 0.5:  # near-duplicate with a small edit
            dup = list(base)
            dup[rng.randrange(len(dup))] = rng.choice(vocab)
            texts.append((100 + i, " ".join(dup)))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sh = dedup.word_shingles(docs, n=3, id_col="doc_id")
    got = {(r["id_a"], r["id_b"]): (r["n_shared"], r["n_union"])
           for r in dedup.ngram_jaccard_pairs(sh, 3, 10).collect()}
    assert got == _brute_jaccard_pairs(texts, 3, 3, 10)
    assert got, "test corpus should contain near-dup pairs"


def test_ngram_jaccard_exact_dup_and_disjoint(spark):
    texts = [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w q r")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sh = dedup.word_shingles(docs, n=3, id_col="doc_id")
    rows = dedup.ngram_jaccard_pairs(sh, 1, 2).collect()
    assert [(r["id_a"], r["id_b"], r["n_shared"], r["n_union"])
            for r in rows] == [(1, 2, 4, 4)]
