"""Freeze the gold-eval fixtures + write GOLD_EVAL.md.

For each reference dataset (custom, conll04) this runs the frozen
reference-profile model over the test split once and writes:

  fixtures/gold_eval/{ds}_docs.parquet        (doc_id)
  fixtures/gold_eval/{ds}_gold_spans.parquet  (url, start, end, type)
  fixtures/gold_eval/{ds}_gold_rels.parquet   (url, h/t start/end, rel_type)
  fixtures/gold_eval/{ds}_pred_spans.parquet  (same shape as gold)
  fixtures/gold_eval/{ds}_pred_rels.parquet

These are the DuckDB side of the gold_eval_{ds} oracle queries: DuckDB
recomputes the per-doc strict-TP counts from the frozen tables while
Spark recomputes them live (JSON loader -> model UDF -> relational
matching), so a hash match verifies loader + model determinism + eval
algebra end-to-end. Deterministic by construction (md5-derived frozen
weights; no RNG anywhere), so the fixtures are reproducible artifacts —
rerun this tool after any model change and commit the diff.

Also writes GOLD_EVAL.md: measured strict/loose span+rel P/R/F1
per dataset next to the dissertation's trained-model numbers
(BASELINE.md) — the honest quantification of the frozen stand-in gap.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(REPO, "fixtures", "gold_eval")

DISSERTATION = {  # test-set micro F1, dissertation §5.1 Table 1 (BASELINE.md)
    "custom": {"span_f1": "58.78-62.59", "rel_f1": "33.03-39.02"},
    "conll04": {"span_f1": "89.02 +/- 0.26", "rel_f1": "72.60 +/- 0.82"},
}


def main() -> int:
    from causalre_spark import gold_eval as G
    from causalre_spark.session import get_spark

    spark = get_spark(app="freeze_gold_eval", cores=8,
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    os.makedirs(FIX, exist_ok=True)
    lines = [
        "# GOLD_EVAL — frozen-model scores on the reference's own gold data",
        "",
        "Generated by tools/freeze_gold_eval.py. The repo's 'reference'",
        "profile is a frozen-weight structural port (md5-derived weights,",
        "rule-derived decision surfaces — model/reference_math.py:31-41);",
        "the dissertation numbers come from TRAINED checkpoints that are",
        "not portable. This table measures, rather than footnotes, that",
        "gap (VERDICT r02 next-round #2). Matching: strict = exact typed",
        "tuples; loose = reference greedy tolerance matching",
        "(metrics.py knobs tol=0.15, width_limit=8).",
        "",
        "| dataset | task | matching | tp | fp | fn | P | R | F1 | trained-model F1 (dissertation) |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for ds in ("custom", "conll04"):
        res = G.evaluate(spark, ds)
        for part in ("docs", "gold_spans", "gold_rels", "pred_spans", "pred_rels"):
            df = {
                "docs": res["split"].select("doc_id"),
                "gold_spans": res["gold_spans"],
                "gold_rels": res["gold_rels"],
                "pred_spans": res["pred_spans"],
                "pred_rels": res["pred_rels"],
            }[part]
            # plain single-file parquet via pandas/pyarrow (NOT a Spark
            # part-file directory) so DuckDB reads it by literal path
            df.toPandas().to_parquet(
                os.path.join(FIX, f"{ds}_{part}.parquet"), index=False)
        for r in res["metrics"].collect():
            ref = DISSERTATION[ds]["span_f1" if r.task == "span" else "rel_f1"]
            lines.append(
                f"| {ds} | {r.task} | {r.matching} | {r.tp} | {r.fp} | {r.fn} "
                f"| {r.precision:.4f} | {r.recall:.4f} | {r.f1:.4f} | {ref} |")
        res["preds"].unpersist()
        res["pred_spans"].unpersist()
        print(f"{ds}: fixtures + metrics written "
              f"({res['counts']})")
    lines += [
        "",
        "Reading: the frozen stand-in finds SOME gold spans (loose recall",
        "custom ~0.18) but its decision surfaces are rule-derived, not",
        "trained, so precision is low and rel matching is near zero — as",
        "expected and now quantified. The pipeline architecture (spans,",
        "pairs, typed decode, eval operators) is what this repo ports;",
        "plugging real trained weights into model/reference_math.py's",
        "parameter table is the remaining (data-not-code) step.",
        "",
        "Oracle coupling: fixtures/gold_eval/*.parquet are re-read by the",
        "gold_eval_custom / gold_eval_conll04 DuckDB oracles; Spark",
        "recomputes the same per-doc counts live from the reference JSON",
        "and the model UDF. Hash equality = loader + frozen model +",
        "matching algebra all reproduce.",
    ]
    out = os.path.join(REPO, "GOLD_EVAL.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
