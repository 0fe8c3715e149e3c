"""Freeze the reference datasets' filtered train/test splits for the
gazetteer DuckDB oracles.

Writes fixtures/gazetteer/{ds}_{split}.parquet with the NESTED split
shape (doc_id, tokens, spans, relations) AFTER filter_valid_spans —
the same preprocessing every eval path uses. Unlike the gold_eval
fixtures (which freeze model *predictions*), these freeze only raw
inputs: the oracle SQL recomputes lexicon fit, candidate generation,
dominance suppression, rel priors and strict metrics END-TO-END from
these tables, so a hash match certifies the whole gazetteer algebra,
not just the final numbers. tests/test_gazetteer.py asserts fixture ==
the split read from the reference JSON so the frozen copies cannot rot
silently. The same files are gold_eval.load_gold_split's source where
the reference is absent, so this tool reads only the reference JSON
(load_reference_split) and fails without it.

Run: python tools/freeze_gazetteer.py
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIX = os.path.join(REPO, "fixtures", "gazetteer")


def main() -> None:
    from causalre_spark.config import PipelineConfig
    from causalre_spark.gold_eval import REFERENCE_DATASETS, load_reference_split
    from causalre_spark.session import get_spark

    import pyarrow.parquet as pq

    from causalre_spark import gold_eval as G
    from causalre_spark.operators import gazetteer as GZ
    from causalre_spark.operators import metrics as M
    from causalre_spark.plans.entry_queries import QUERIES

    spark = get_spark(app="freeze_gazetteer", cores=2)
    os.makedirs(FIX, exist_ok=True)
    cfg = PipelineConfig(max_seq_len=G.FIXTURE_MAX_SEQ_LEN,
                         max_span_width=G.FIXTURE_MAX_SPAN_WIDTH)
    for ds in REFERENCE_DATASETS:
        for split in ("train", "val", "test"):
            df = load_reference_split(spark, ds, split, cfg)
            # single-file parquet with the exact nested schema (NOT a
            # Spark part-file directory) so DuckDB reads it by path
            tbl = (df.select("doc_id", "tokens", "spans", "relations")
                   .orderBy("doc_id").toArrow())
            pq.write_table(tbl, os.path.join(FIX, f"{ds}_{split}.parquet"))
            print(f"froze {ds}/{split}: {tbl.num_rows} docs")

    # measured gazetteer scores -> GOLD_EVAL.md addendum
    lines = [
        "",
        "## Gazetteer extractor (train-split-fitted decision surfaces)",
        "",
        "Same gold test splits and eval operators as above, but the",
        "decision surfaces are FITTED on the train split by DataFrame",
        "aggregation (operators/gazetteer.py): span lexicon = majority",
        "gold type per surface form; rels = between-text trigger",
        "lexicon (P(rel | token between pair) counted on train pairs,",
        "support>=10, rate>=0.3, gap<=30). Inference",
        "is a broadcast map-join — the 100 TB gazetteer shape. Strict",
        "rows are the oracle-gated gazetteer_eval_* queries; loose rows",
        "reuse the A2 operators.",
        "",
        "| dataset | task | matching | tp | fp | fn | P | R | F1 |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for ds in REFERENCE_DATASETS:
        strict = {r.task: r
                  for r in QUERIES[f"gazetteer_eval_{ds}"](spark, "")
                  .collect()}
        for task in ("span", "rel"):
            r = strict[task]
            lines.append(f"| {ds} | {task} | strict | {r.tp} | {r.fp} "
                         f"| {r.fn} | {r.precision} | {r.recall} "
                         f"| {r.f1} |")
        # loose via the shared A2 operators
        train = load_reference_split(spark, ds, "train")
        test = load_reference_split(spark, ds, "test")
        lex = GZ.fit_span_lexicon(train)
        pred_s = GZ.tag_spans(test, lex).persist()
        pred_r = GZ.predict_rels_triggers(
            pred_s, test, GZ.fit_rel_triggers(train),
            GZ.majority_rel_type(train))
        gold_s, gold_r = G.gold_span_table(test), G.gold_rel_table(test)
        for task, gold, pred, op in (
                ("span", gold_s, pred_s, M.loose_match_spans),
                ("rel", gold_r, pred_r, M.loose_match_rels)):
            from pyspark.sql import functions as F
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
    marker = "\n## Gazetteer extractor"
    if marker in text:
        text = text.split(marker)[0]
    with open(md, "w") as f:
        f.write(text.rstrip("\n") + "\n" + "\n".join(lines) + "\n")
    print("updated GOLD_EVAL.md")
    spark.stop()


if __name__ == "__main__":
    main()
