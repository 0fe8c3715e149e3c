"""Gold-data eval (VERDICT r02 #2): the frozen reference-profile model
scored against the reference's OWN annotated test split, through the
A1 strict + A2 loose eval operators. The expected counts are frozen —
the model is deterministic by construction (md5-derived weights, no
RNG), so any drift in loader, model, or matching algebra fails here."""

import pytest

from causalre_spark import gold_eval as G

# frozen measured values (tools/freeze_gold_eval.py; GOLD_EVAL.md)
EXPECTED_CUSTOM = {
    ("span", "strict"): (27, 1931, 177),
    ("rel", "strict"): (0, 105, 87),
    ("span", "loose"): (37, 1921, 167),
    ("rel", "loose"): (0, 105, 87),
}


@pytest.fixture(scope="module")
def custom_eval(spark):
    res = G.evaluate(spark, "custom")
    yield res
    res["preds"].unpersist()
    res["pred_spans"].unpersist()


def test_custom_metrics_frozen(custom_eval):
    got = {(r.task, r.matching): (r.tp, r.fp, r.fn)
           for r in custom_eval["metrics"].collect()}
    assert got == EXPECTED_CUSTOM


def test_counts_consistent(custom_eval):
    c = custom_eval["counts"]
    assert c["gold_spans"] == 204 and c["gold_rels"] == 87
    # tp + fn == gold, tp + fp == pred for the strict rows
    for r in custom_eval["metrics"].filter("matching = 'strict'").collect():
        n_gold = c["gold_spans"] if r.task == "span" else c["gold_rels"]
        n_pred = c["pred_spans"] if r.task == "span" else c["pred_rels"]
        assert r.tp + r.fn == n_gold and r.tp + r.fp == n_pred


def test_per_doc_counts_sum_to_totals(spark, custom_eval):
    pdc = G.per_doc_counts(spark, "custom").toPandas()
    assert len(pdc) == 88  # every test-split doc has a row
    assert int(pdc["span_tp"].sum()) == EXPECTED_CUSTOM[("span", "strict")][0]
    assert int(pdc["rel_tp"].sum()) == 0
    assert int(pdc["n_gold_spans"].sum()) == 204
    assert int(pdc["n_pred_spans"].sum()) == custom_eval["counts"]["pred_spans"]


def test_fixtures_match_live(custom_eval):
    """The committed fixtures (DuckDB oracle inputs) must equal a live
    recompute — guards against stale fixtures after model changes."""
    import os

    import pandas as pd

    from causalre_spark import FIXTURES_DIR

    frozen = pd.read_parquet(
        os.path.join(FIXTURES_DIR, "gold_eval", "custom_pred_spans.parquet"))
    got = custom_eval["pred_spans"].toPandas()
    key = ["url", "start", "end", "type"]
    assert (sorted(map(tuple, frozen[key].values.tolist()))
            == sorted(map(tuple, got[key].values.tolist())))


def test_gold_split_falls_back_to_fixtures(spark, monkeypatch, tmp_path):
    """Without the reference JSON, load_gold_split serves the committed
    filtered split, refuses limits looser than the freeze's, and
    load_reference_split still fails rather than read the fixtures."""
    import os
    import re

    import pyarrow.parquet as pq

    from causalre_spark import FIXTURES_DIR
    from causalre_spark.config import PipelineConfig

    missing = str(tmp_path / "missing.json")
    monkeypatch.setitem(G.REFERENCE_DATASETS, "custom", missing)

    cols = ["doc_id", "tokens", "spans", "relations"]
    got = [r.asDict(recursive=True) for r in
           G.load_gold_split(spark, "custom", "test")
           .select(*cols).orderBy("doc_id").collect()]
    frozen = pq.read_table(
        os.path.join(FIXTURES_DIR, "gazetteer", "custom_test.parquet"),
        columns=cols).sort_by("doc_id").to_pylist()
    assert len(got) == 88
    assert got == frozen

    with pytest.raises(ValueError, match=re.escape(missing)):
        G.load_gold_split(spark, "custom", "test",
                          PipelineConfig(max_span_width=81))
    with pytest.raises(FileNotFoundError):
        G.load_reference_split(spark, "custom", "test")
