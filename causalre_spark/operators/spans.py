"""Span display helper (SURVEY §2.7 F5).

Span top-k, dedup and NMS run inside the fused per-document extraction
UDF (model.udfs.make_doc_extract_udf); only the scalar marking helper
lives here.
"""

from __future__ import annotations


def mark_spans(tokens: list[str], spans: list[dict], prefix: str = "s") -> list[str]:
    """F5 span marking for display (process_preds.py:56-61): wrap each
    span's first/last token in <prefix{i}>...</prefix{i}> markers.
    Debug-only scalar helper; returns a new token list."""
    out = list(tokens)
    for i, span in enumerate(spans):
        out[span["start"]] = f"<{prefix}{i}>{out[span['start']]}"
        out[span["end"] - 1] = f"{out[span['end'] - 1]}</{prefix}{i}>"
    return out
