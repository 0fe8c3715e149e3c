"""Gazetteer extractor (operators/gazetteer.py): fit/tag/prior unit
semantics, fixture freshness for the DuckDB oracles, Spark-vs-DuckDB
parity of the full eval chain, and the quality claim vs the frozen
neural profile (GOLD_EVAL.md)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from causalre_spark.operators import gazetteer as GZ

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(REPO, "fixtures", "gazetteer")

SPLIT_SCHEMA = (
    "doc_id long, tokens array<string>, "
    "spans array<struct<start:int, end:int, type:string>>, "
    "relations array<struct<head:int, tail:int, type:string>>"
)


def _split(spark, rows):
    return spark.createDataFrame(rows, SPLIT_SCHEMA)


@pytest.fixture(scope="module")
def tiny(spark):
    # doc 1: "heavy rain caused flash floods" — rain=CAUSE(x2 via doc2),
    # doc 2 repeats "heavy rain" as EFFECT once to exercise majority vote
    return _split(spark, [
        (1, ["heavy", "rain", "caused", "flash", "floods"],
         [(0, 2, "CAUSE"), (3, 5, "EFFECT")],
         [(0, 1, "CAUSES")]),
        (2, ["heavy", "rain", "again", "heavy", "rain"],
         [(0, 2, "CAUSE"), (3, 5, "EFFECT")],
         []),
        (3, ["floods", "everywhere"],
         [(0, 1, "EFFECT")],
         []),
    ])


def test_fit_span_lexicon_majority_and_ties(spark, tiny):
    lex = {r.form: (r.width, r.type, r.cnt)
           for r in GZ.fit_span_lexicon(tiny).collect()}
    # "heavy rain" occurs as CAUSE x2 and EFFECT x1 -> majority CAUSE
    assert lex["heavy rain"] == (2, "CAUSE", 2)
    assert lex["flash floods"] == (2, "EFFECT", 1)
    assert lex["floods"] == (1, "EFFECT", 1)


def test_fit_span_lexicon_tie_breaks_type_asc(spark):
    df = _split(spark, [
        (1, ["x", "y"], [(0, 2, "B")], []),
        (2, ["x", "y"], [(0, 2, "A")], []),
    ])
    lex = GZ.fit_span_lexicon(df).collect()
    assert len(lex) == 1 and lex[0].type == "A"  # equal cnt -> type asc


def test_tag_spans_matches_and_dominance(spark, tiny):
    lex = GZ.fit_span_lexicon(tiny)
    docs = _split(spark, [
        # "heavy rain" (w=2) overlaps "rain" nowhere in lexicon; the
        # longer lexicon match must win over the shorter "floods" when
        # they overlap via "flash floods"
        (10, ["heavy", "rain", "brought", "flash", "floods"], [], []),
        (11, ["floods"], [], []),
    ])
    got = {(r.url, r.start, r.end, r.type)
           for r in GZ.tag_spans(docs, lex).collect()}
    # w=2 "flash floods" dominates the overlapped w=1 "floods" at pos 4
    assert got == {("10", 0, 2, "CAUSE"), ("10", 3, 5, "EFFECT"),
                   ("11", 0, 1, "EFFECT")}


def test_tag_spans_equal_width_cnt_earlier_start_wins(spark):
    lex_src = _split(spark, [
        (1, ["a", "b", "c"], [(0, 2, "X"), (1, 3, "Y")], []),
    ])
    lex = GZ.fit_span_lexicon(lex_src)
    docs = _split(spark, [(2, ["a", "b", "c"], [], [])])
    got = {(r.start, r.end, r.type)
           for r in GZ.tag_spans(docs, lex).collect()}
    # "a b" and "b c" overlap, same width, same cnt -> earlier start kept
    assert got == {(0, 2, "X")}


def test_rel_triggers_and_prediction(spark, tiny):
    # train: between-text of the labeled pair (doc1 C->E) is
    # ["caused"]; unlabeled pairs (doc2 C..E) contribute ["again",
    # "heavy"]. With min_support=1, min_rate=0.5: only "caused" fires.
    trig = GZ.fit_rel_triggers(tiny, min_support=1, min_rate=0.5)
    assert {r.w for r in trig.collect()} == {"caused"}

    rtype = GZ.majority_rel_type(tiny)
    assert rtype.collect()[0].rel_type == "CAUSES"

    docs = _split(spark, [
        (20, ["heavy", "rain", "caused", "flash", "floods"], [], []),
        (21, ["flash", "floods", "then", "heavy", "rain"], [], []),
    ])
    pred_s = spark.createDataFrame(
        [("20", 0, 2, "CAUSE", 2), ("20", 3, 5, "EFFECT", 1),
         ("21", 0, 2, "EFFECT", 1), ("21", 3, 5, "CAUSE", 2)],
        "url string, start int, end int, type string, cnt long")
    got = {(r.url, r.h_start, r.t_start, r.rel_type) for r in
           GZ.predict_rels_triggers(pred_s, docs, trig, rtype).collect()}
    # doc 20: "caused" between spans -> fires; doc 21: "then" -> no
    assert got == {("20", 0, 3, "CAUSES")}


def test_rel_priors_and_prediction(spark, tiny):
    priors = {(r.head_type, r.tail_type): (r.rel_type, r.rate)
              for r in GZ.fit_rel_priors(tiny).collect()}
    # gold: one CAUSES rel among (CAUSE, EFFECT) ordered pairs:
    # doc1 (C,E), doc2 (C,E) -> pair_cnt=2, rel_cnt=1 -> rate 0.5
    assert priors[("CAUSE", "EFFECT")][0] == "CAUSES"
    assert priors[("CAUSE", "EFFECT")][1] == pytest.approx(0.5)

    pred_s = spark.createDataFrame(
        [("9", 0, 2, "CAUSE", 2), ("9", 3, 5, "EFFECT", 1)],
        "url string, start int, end int, type string, cnt long")
    rels = GZ.predict_rels(pred_s, GZ.fit_rel_priors(tiny), rate_thd=0.3)
    got = [(r.h_start, r.t_start, r.rel_type) for r in rels.collect()]
    assert got == [(0, 3, "CAUSES")]


# ---------------------------------------------------------------------------
# fixtures + oracle parity on the real reference data
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dataset", ["custom", "conll04"])
@pytest.mark.parametrize("split", ["train", "test"])
def test_fixture_matches_live_split(spark, dataset, split):
    """The frozen oracle inputs must equal the filtered split read from
    the reference JSON — otherwise the gazetteer oracles silently verify
    stale data. load_reference_split never falls back to the fixtures,
    so where the reference is absent this fails with FileNotFoundError
    instead of comparing the fixtures with themselves."""
    from causalre_spark import gold_eval as G

    path = os.path.join(FIX, f"{dataset}_{split}.parquet")
    assert os.path.exists(path), "run tools/freeze_gazetteer.py"
    live = G.load_reference_split(spark, dataset, split)
    froz = spark.read.parquet(path)
    key = [F.col("doc_id")]
    digest = lambda df: (  # noqa: E731
        df.select(
            F.md5(F.to_json(F.struct("doc_id", "tokens", "spans",
                                     "relations"))).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)
                   .cast("long")).alias("s"), F.count("*").alias("n"))
        .collect()[0])
    assert digest(live) == digest(froz)


def test_gazetteer_eval_spark_duckdb_parity(spark):
    """Full fit+tag+prior+eval chain: Spark (reference JSON, or the
    frozen fixtures where it is absent) vs DuckDB (frozen fixtures) must
    agree row-for-row — the same comparison the driver's correctness
    harness runs."""
    from causalre_spark.plans.entry_queries import ORACLES, QUERIES

    for name in ("gazetteer_eval_custom", "gazetteer_lexicon",
                 "gazetteer_spans"):
        got = sorted(tuple(r) for r in QUERIES[name](spark, "").collect())
        exp = sorted(tuple(r) for r in
                     duckdb.sql(ORACLES[name]).fetchall())
        assert got == exp, f"{name}: spark={got[:5]} duck={exp[:5]}"


def test_gazetteer_beats_frozen_profile(spark):
    """The point of the exercise (VERDICT r02 missing #3): train-split
    fitted surfaces must lift strict span F1 far above the frozen
    neural stand-in's (custom 0.025 / conll04 0.051 strict span,
    GOLD_EVAL.md). conll04 entities recur verbatim, so the
    lexicon shines there; custom event spans are long unique clauses,
    so the lift is smaller but still strictly better."""
    from causalre_spark.plans.entry_queries import QUERIES

    conll = {r.task: r for r in
             QUERIES["gazetteer_eval_conll04"](spark, "").collect()}
    assert conll["span"].f1 > 0.30, conll["span"]
    custom = {r.task: r for r in
              QUERIES["gazetteer_eval_custom"](spark, "").collect()}
    assert custom["span"].f1 > 0.025, custom["span"]
