"""Arrow-batched UDF stage wrapping the frozen model math.

This is the ONLY Python-executed stage in the pipeline (input_hint:
vectorized pandas/Arrow UDFs, no per-row Python in the relational plan).

Every page goes through ONE fused stage per document —
``make_doc_extract_udf`` — which runs the reference's whole pruning
cascade in a single Arrow crossing: extract -> tokenize -> encode ->
tagger decode -> span filter -> top-k -> NMS -> pair gen -> rel score ->
rel top-k -> threshold (reference forward pass model.py:728-1134; the
cascade order is model.py:788-885). Rationale: every one of those ops is
per-document and bounded by k = max_top_k_spans, so shuffling the
10-100x larger candidate sets between stages would be pure overhead at
100 TB — the unit of distribution is the document. Cross-document
operators (linking, dedup, triple aggregation) remain DataFrame algebra.

In production the frozen NumPy model is swapped for a broadcast torch
model loaded once per Python worker; interfaces unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.extract import extract_text, tokenize
from causalre_spark.model import batch

DOC_EXTRACT_SCHEMA = (
    "url string, n_tokens int, text_ok boolean, "
    "spans array<struct<start:int, end:int, tag_score:float, "
    "filter_score:float, span_type:string, text:string>>, "
    "rels array<struct<h_start:int, h_end:int, t_start:int, t_end:int, "
    "rel_score:float, rel_type:string, h_text:string, t_text:string>>"
)


def make_doc_extract_udf(cfg: PipelineConfig = DEFAULT_CONFIG):
    """pages(url, html, expected_text) -> one row per doc with kept spans
    + thresholded relations as array columns (exploded relationally by
    the caller). text is re-extracted from html; text_ok carries the
    byte-identical invariant."""

    def udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("url", "n_tokens", "text_ok", "spans", "rels")}
            for url, html, expected in zip(
                pdf["url"], pdf["html"], pdf["expected_text"]
            ):
                text = extract_text(bytes(html))
                toks = tokenize(text)
                r = batch.doc_extract(toks, cfg)
                span_rows = [
                    (int(s), int(e), float(ts), float(fs), str(ty),
                     " ".join(toks[int(s): int(e)]))
                    for s, e, ts, fs, ty in zip(
                        r["starts"], r["ends"], r["tag_scores"],
                        r["filter_scores"], r["span_types"])
                ]
                rel_rows = [
                    (int(r["starts"][h]), int(r["ends"][h]),
                     int(r["starts"][t]), int(r["ends"][t]), float(sc), str(ty),
                     span_rows[h][5], span_rows[t][5])
                    for h, t, sc, ty in zip(
                        r["rel_h"], r["rel_t"], r["rel_scores"], r["rel_types"])
                ]
                out["url"].append(url)
                out["n_tokens"].append(len(toks))
                out["text_ok"].append(text == expected)
                out["spans"].append(span_rows)
                out["rels"].append(rel_rows)
            yield pd.DataFrame(out)

    return udf
