"""Freeze the averaged-perceptron span tagger's weights + predictions
for the ptron_full_eval_* queries and their DuckDB oracles.

Writes, per dataset:
  fixtures/perceptron/{ds}_weights.parquet     (kind, val, prev, state, w)
  fixtures/perceptron/{ds}_pred_spans.parquet  (url, start, end)
  fixtures/perceptron/{ds}_gaz_lexicon.parquet (gaz-stacked datasets)

The perceptron fit is iterative (Viterbi inside every epoch) — NOT
SQL-expressible — so the *weights* are frozen: the ptron_full_eval_*
queries decode the test split LIVE under the frozen weights
(mapInPandas), and their oracles consume the frozen spans as input to
the fully-SQL-recomputed relation + eval chain. The independent
exactness gates are tests/test_perceptron.py: scalar-twin IPM fit
equality, scalar decode parity, and decode under the frozen weights ==
the frozen spans. Run tools/freeze_rel_perceptron.py afterwards: it
reads these spans and rewrites the GOLD_EVAL.md all-perceptron table.

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


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from causalre_spark import gold_eval as G
    from causalre_spark.operators import perceptron as PT
    from causalre_spark.session import get_spark

    spark = get_spark(app="freeze_perceptron", cores=8)
    os.makedirs(FIX, exist_ok=True)
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


if __name__ == "__main__":
    main()
