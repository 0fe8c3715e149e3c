"""Freeze the averaged-perceptron span tagger's weights + predictions
for the fitted_ptron_* DuckDB oracles.

Writes, per dataset:
  fixtures/perceptron/{ds}_weights.parquet     (kind, val, prev, state, w)
  fixtures/perceptron/{ds}_pred_spans.parquet  (url, start, end)

The perceptron fit is iterative (Viterbi inside every epoch) — NOT
SQL-expressible — so unlike the HMM the *weights* are frozen too: the
fitted_ptron_spans_* queries decode the test split LIVE under the frozen
weights (mapInPandas), their oracle pins the frozen decode fixture, and
the fitted_ptron_eval_* oracles consume the frozen spans as input to the
fully-SQL-recomputed NB + eval chain (same chain as fitted_eval_*). The
independent exactness gates are tests/test_perceptron.py: scalar-twin
IPM fit equality and scalar decode parity.

Fit protocol (select-then-refit, never test): epochs selected on the
val splits (perceptron.EPOCHS); the model-vs-HMM choice was checked
with BOTH the val splits and 5-fold CV over train∪val (folds =
doc_id % 5) — conll04 decisively perceptron (CV 0.800 vs 0.715), custom
a statistical tie (CV 0.321 vs 0.313) — and the shipped weights are
refit on train ∪ val.

Run: python tools/freeze_perceptron.py
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIX = os.path.join(REPO, "fixtures", "perceptron")

HEADER = [
    "",
    "## Averaged-perceptron span tagger (scaled-integer IPM) + NB",
    "relations — the discriminative rung above the HMM",
    "",
    "operators/perceptron.py — BIES+O averaged structured perceptron",
    "fitted with EXACT integer Iterative Parameter Mixing (McDonald,",
    "Hall & Mann 2010): docs shard by doc_id % 8, each epoch is one",
    "applyInPandas over the shards (local sequential epoch from the",
    "shared weights), shard deltas are summed and mixed by exact //8",
    "integer division (weights live in 1/8 units, so Spark, the scalar",
    "twin and any executor count produce byte-identical weights).",
    "Features: token, shape, prev/next token+shape, 3-suffix, 2-prefix,",
    "two conjunctions; conll04 adds the suf4+wl+psh2 extra kinds at",
    "70 epochs (two greedy rounds of the dual val+CV gate:",
    "round 1 suf4+wl val span F1 0.8105 ->",
    "0.8146 / 5-fold CV 0.8158 -> 0.8236; round 2 +psh2 val -> 0.8185",
    "/ CV -> 0.8244; nine custom arms across both rounds all fail a",
    "half and custom stays at the baseline families) and stacked",
    "CROSS-FIT gazetteer",
    "membership flags (('gz', B|I|E|S) from 5-fold doc_id%5 lexica in",
    "the fit, the full train∪val lexicon at decode — adopted under the",
    "dual val+CV gate: val 0.800 -> 0.8105",
    "AND 5-fold CV over train∪val 0.8040 -> 0.8136;",
    "custom rejected, val 0.4299 vs 0.4276.",
    "The conll04 TEST rows under each refreeze are recorded only in",
    "the frozen tables below — test is never a selection signal; both",
    "selection signals improve on ~5x more eval data and neither ever",
    "reads test).",
    "Relations: the SAME fitted NB chain as the HMM",
    "section (margin + frequency floor), refit on train ∪ val, scored",
    "over the perceptron's spans. Protocol: epochs selected on VAL",
    "(conll04 50; custom 35 -> 70 in round 4 under the dual val+CV",
    "gate: val 0.4227 -> 0.4299, CV 0.3640 -> 0.3717);",
    "model-vs-HMM checked on val AND 5-fold CV",
    "over train∪val (conll04 decisively perceptron, CV 0.800 vs 0.715;",
    "custom a statistical tie, 0.321 vs 0.313 — both extractors stay",
    "registered); final weights refit on train ∪ val. The fit is",
    "iterative (not SQL-expressible), so weights are frozen",
    "(fixtures/perceptron) and the oracles pin the decode + recompute",
    "the NB/eval algebra end-to-end in SQL; the fit/decode exactness",
    "gates are the scalar twins in tests/test_perceptron.py.",
    "",
    "| dataset | task | matching | tp | fp | fn | P | R | F1 |",
    "|---|---|---|---|---|---|---|---|---|",
]


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from causalre_spark import gold_eval as G
    from causalre_spark.operators import fitted as FT
    from causalre_spark.operators import gazetteer as GZ
    from causalre_spark.operators import metrics as M
    from causalre_spark.operators import perceptron as PT
    from causalre_spark.session import get_spark

    spark = get_spark(app="freeze_perceptron", cores=8)
    os.makedirs(FIX, exist_ok=True)
    lines = list(HEADER)
    for ds in G.REFERENCE_DATASETS:
        train = G.load_gold_fit_split(spark, ds)  # train ∪ val
        test = G.load_gold_split(spark, ds, "test")
        gaz = None
        if PT.SPAN_GAZ.get(ds):
            phrases = [p for _, p in PT.gaz_lexicon(train)]
            gout = os.path.join(FIX, f"{ds}_gaz_lexicon.parquet")
            PT.save_gaz_lexicon(phrases, gout)
            gaz = PT.load_frozen_gaz(gout)
            print(f"froze {gout}: {len(set(phrases))} phrases")
        W, Wt = PT.fit_ipm(train, epochs=PT.EPOCHS[ds],
                           gaz_folds=PT.GAZ_FOLDS
                           if PT.SPAN_GAZ.get(ds) else 0,
                           extras=PT.SPAN_EXTRAS[ds])
        rows = PT.weights_to_rows(W, Wt)
        wt = pa.table({
            "kind": [r[0] for r in rows],
            "val": [r[1] for r in rows],
            "prev": [r[2] for r in rows],
            "state": [r[3] for r in rows],
            "w": pa.array([r[4] for r in rows], type=pa.int64()),
        })
        wout = os.path.join(FIX, f"{ds}_weights.parquet")
        pq.write_table(wt, wout)
        print(f"froze {wout}: {len(rows)} weights")

        spans = PT.decode_spans(test, W, Wt, gaz=gaz,
                                extras=PT.SPAN_EXTRAS[ds])
        pdf = spans.toPandas().sort_values(
            ["url", "start", "end"]).reset_index(drop=True)
        sout = os.path.join(FIX, f"{ds}_pred_spans.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       sout)
        print(f"froze {sout}: {len(pdf)} spans")

        # measured scores -> GOLD_EVAL.md addendum (strict via the
        # oracle-gated query, loose via the shared A2 operators)
        from causalre_spark.plans.entry_queries import QUERIES
        strict = {r.task: r for r in
                  QUERIES[f"fitted_ptron_eval_{ds}"](spark, "").collect()}
        for task in ("span", "rel"):
            r = strict[task]
            lines.append(f"| {ds} | {task} | strict | {r.tp} | {r.fp} "
                         f"| {r.fn} | {r.precision} | {r.recall} "
                         f"| {r.f1} |")
        pred_u = spark.createDataFrame(spans.collect(), schema=spans.schema)
        pred_s = pred_u.crossJoin(
            F.broadcast(FT.majority_span_type(train))).persist()
        weights, priors = FT.fit_rel_nb(train)
        pred_r = FT.predict_rels_nb(pred_u, test, weights, priors,
                                    GZ.majority_rel_type(train))
        gold_s, gold_r = G.gold_span_table(test), G.gold_rel_table(test)
        for task, gold, pred, op in (
                ("span", gold_s, pred_s, M.loose_match_spans),
                ("rel", gold_r, pred_r, M.loose_match_rels)):
            tp = int(op(gold, pred).agg(F.sum("loose_tp"))
                     .collect()[0][0] or 0)
            n_gold, n_pred = gold.count(), pred.count()
            prec, rec = tp / max(n_pred, 1), tp / max(n_gold, 1)
            f1 = 2 * prec * rec / max(prec + rec, 1e-12)
            lines.append(f"| {ds} | {task} | loose | {tp} "
                         f"| {n_pred - tp} | {n_gold - tp} "
                         f"| {round(prec, 4)} | {round(rec, 4)} "
                         f"| {round(f1, 4)} |")
        pred_s.unpersist()
    md = os.path.join(REPO, "GOLD_EVAL.md")
    text = open(md).read()
    marker = "\n## Averaged-perceptron span tagger"
    if marker in text:
        text = text.split(marker)[0]
    with open(md, "w") as f:
        f.write(text.rstrip("\n") + "\n" + "\n".join(lines) + "\n")
    print("updated GOLD_EVAL.md")


if __name__ == "__main__":
    main()
