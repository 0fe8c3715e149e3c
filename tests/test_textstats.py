"""Edge-case units for the Gopher-style repetition signals and the
token-window chunker (the oracle queries cover the bulk semantics;
these lock the short-doc / tie-break corners the synthetic corpus may
never hit)."""

import pytest

from causalre_spark.operators import textstats


def _rows(spark, texts):
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")
    return {r["doc_id"]: r.asDict()
            for r in textstats.repetition_stats(df).collect()}


def test_repetition_short_docs(spark):
    out = _rows(spark, ["one", "two words", ""])
    # <3 words: no trigrams -> dup_trigram_frac is 0, not 1
    assert out[0]["dup_trigram_frac"] == 0.0
    assert out[0]["top_bigram"] is None
    assert out[0]["top_bigram_frac"] == 0.0
    assert out[1]["top_bigram"] == "two words"
    assert out[1]["dup_trigram_frac"] == 0.0
    # empty text normalizes to [''] -> 1 word, nothing blows up
    assert out[2]["n_words"] == 1
    assert out[2]["keep"] is True


def test_repetition_fracs_and_tiebreak(spark):
    out = _rows(spark, ["a b a b a", "x y x z y z"])
    # doc0: words [a b a b a] -> 2 distinct / 5
    assert out[0]["n_words"] == 5
    assert out[0]["dup_word_frac"] == pytest.approx(1 - 2 / 5, abs=1e-5)
    # trigrams: aba, bab, aba -> 2 distinct / 3
    assert out[0]["dup_trigram_frac"] == pytest.approx(1 - 2 / 3, abs=1e-5)
    # bigrams: 'a b'x2, 'b a'x2 -> count tie, lexicographically larger wins
    assert out[0]["top_bigram"] == "b a"
    # 2 occurrences * 3 chars / 9 norm chars
    assert out[0]["top_bigram_frac"] == pytest.approx(6 / 9, abs=1e-5)
    assert out[0]["keep"] is False  # repeated bigram dominates the doc
    # doc1: all 5 bigrams distinct -> any is top with cnt 1; 'z y' is max
    assert out[1]["top_bigram"] == "z y"



def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")



def test_chunk_documents_windows(spark):
    """Window/stride algebra: starts at 0, stride apart, a start is
    dropped once the previous window already reached the doc end (no
    duplicate-suffix chunks), full coverage, uid deterministic."""
    toks = [f"w{i}" for i in range(10)]
    out = sorted(
        textstats.chunk_documents(
            _docs(spark, [" ".join(toks), "solo"]), size=4, stride=3
        ).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]))
    d0 = [r for r in out if r["doc_id"] == 0]
    # starts 0,3,6 — start 9 is dropped: the window at 6 (w6..w9)
    # already reaches the end, so a chunk at 9 would be its strict
    # suffix (pure duplicated text)
    assert [r["start_tok"] for r in d0] == [0, 3, 6]
    assert [r["n_chunk_tokens"] for r in d0] == [4, 4, 4]
    assert d0[0]["chunk_text"] == "w0 w1 w2 w3"
    assert d0[1]["chunk_text"] == "w3 w4 w5 w6"
    assert d0[2]["chunk_text"] == "w6 w7 w8 w9"
    # stride-prefixes of the leading chunks + the whole final chunk
    # reconstruct the doc exactly
    rebuilt = []
    for r in d0[:-1]:
        rebuilt.extend(r["chunk_text"].split(" ")[:3])
    rebuilt.extend(d0[-1]["chunk_text"].split(" "))
    assert rebuilt == toks
    # single-token doc -> exactly one chunk
    d1 = [r for r in out if r["doc_id"] == 1]
    assert len(d1) == 1 and d1[0]["chunk_text"] == "solo"
    # uid is the portable md5 of (doc_id, chunk_idx)
    from causalre_spark.functions.hashing import md5_long
    assert d0[2]["chunk_uid"] == md5_long("0:2")


def test_chunk_documents_no_shuffle(spark):
    """The chunking plan must be map-only: no Exchange anywhere."""
    df = textstats.chunk_documents(_docs(spark, ["a b c"]), size=2, stride=1)
    explained = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in explained
