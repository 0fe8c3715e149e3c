"""Edge-case units for the Gopher-style repetition signals (the
curation_verdict oracle covers the bulk semantics; these lock the
short-doc / tie-break corners the synthetic corpus may never hit)."""

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
