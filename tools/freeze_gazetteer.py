"""Freeze the reference datasets' filtered train/val/test splits for the
gold-split DuckDB oracles.

Writes fixtures/gazetteer/{ds}_{split}.parquet with the NESTED split
shape (doc_id, tokens, spans, relations) AFTER filter_valid_spans —
the same preprocessing every eval path uses. Unlike the gold_eval
fixtures (which freeze model *predictions*), these freeze only raw
inputs: the ptron_full_eval_* oracles recompute pair generation,
features, relation inference and strict metrics END-TO-END from these
tables (plus the frozen perceptron weights and spans).
tests/test_gazetteer.py asserts fixture == the split read from the
reference JSON so the frozen copies cannot rot silently. The same
files are gold_eval.load_gold_split's source where the reference is
absent, so this tool reads only the reference JSON
(load_reference_split) and fails without it.

Run: python tools/freeze_gazetteer.py
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIX = os.path.join(REPO, "fixtures", "gazetteer")


def main() -> None:
    import pyarrow.parquet as pq

    from causalre_spark import gold_eval as G
    from causalre_spark.config import PipelineConfig
    from causalre_spark.session import get_spark

    spark = get_spark(app="freeze_gazetteer", cores=2)
    os.makedirs(FIX, exist_ok=True)
    cfg = PipelineConfig(max_seq_len=G.FIXTURE_MAX_SEQ_LEN,
                         max_span_width=G.FIXTURE_MAX_SPAN_WIDTH)
    for ds in G.REFERENCE_DATASETS:
        for split in ("train", "val", "test"):
            df = G.load_reference_split(spark, ds, split, cfg)
            # single-file parquet with the exact nested schema (NOT a
            # Spark part-file directory) so DuckDB reads it by path
            tbl = (df.select("doc_id", "tokens", "spans", "relations")
                   .orderBy("doc_id").toArrow())
            pq.write_table(tbl, os.path.join(FIX, f"{ds}_{split}.parquet"))
            print(f"froze {ds}/{split}: {tbl.num_rows} docs")
    spark.stop()


if __name__ == "__main__":
    main()
