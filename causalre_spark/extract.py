"""Deterministic html -> text -> tokens extraction.

north_rule / input_hint invariant: extracted text per url must be
byte-identical run-over-run (and vs the `text` column for synthetic
pages). The reference consumes pre-tokenized text
(data_preparation.py:242-288); at web scale we must own this stage and
freeze it — so the extractor is a small, dependency-free, frozen pure
function, shared verbatim by the Spark UDF, the oracle, and the tests.

Extraction contract (v1, FROZEN): the page text is the concatenation of
the inner text of every <p>...</p> element, in document order, joined
with "\\n\\n", HTML-entity-unescaped, with any nested tags stripped.
"""

from __future__ import annotations

import html as _html
import re

_P_RE = re.compile(rb"<p(?:\s[^>]*)?>(.*?)</p>", re.DOTALL | re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text(page_html: bytes) -> str:
    """Frozen html->text. Pure; byte-identical output per input."""
    paras = _P_RE.findall(page_html)
    out = []
    for p in paras:
        s = p.decode("utf-8", errors="replace")
        s = _TAG_RE.sub("", s)
        out.append(_html.unescape(s))
    return "\n\n".join(out)


def tokenize(text: str) -> list[str]:
    """Frozen deterministic word tokenizer.

    Whitespace split with punctuation split off as separate tokens —
    stands in for the reference's pre-tokenized `tokens` field
    (data format, data_preparation.py:242-288). Pure function.
    """
    if not text:
        return []
    # split off leading/trailing punctuation runs as their own tokens
    toks: list[str] = []
    for raw in text.split():
        m = re.match(r"^([\"'(\[]*)(.*?)([\"')\],.;:!?]*)$", raw)
        lead, core, trail = m.group(1), m.group(2), m.group(3)
        toks.extend(lead)
        if core:
            toks.append(core)
        toks.extend(trail)
    return toks
