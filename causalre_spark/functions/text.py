"""Frozen text normalization, shingling and MinHash helpers, and the
curation-gate twin.

Pure-Python twins of the SQL used in the Spark operators; the oracle and
the Spark side must agree exactly, so everything here is defined to be
expressible with portable SQL (lower/regexp_replace/substring/md5).
"""

from __future__ import annotations

from causalre_spark.functions.hashing import md5_long

# Normalization v2 (FROZEN): lowercase; ASCII punctuation -> space;
# collapse space runs; trim. Non-ASCII characters pass through
# unchanged. Implemented as translate + regexp_replace(' +') + trim:
# every operator in the chain participates in whole-stage codegen. The
# previous formulation (split + filter(s -> s != '') + concat_ws)
# computed the same string, but higher-order array lambdas NEVER
# codegen — the whole projection fell back to interpreted eval
# (~45 us/row, measured via thread dump: ArrayFilter.eval +
# StringTranslate.nullSafeEval), and Catalyst's filter pushdown
# replicated it below the distinct onto every mention INSTANCE, which
# at 500k pages was ~10 min of single-stage CPU in the linking tail.
PUNCT = "".join(chr(c) for c in range(33, 127) if not chr(c).isalnum())
_SPACES = " " * len(PUNCT)
_TRANS = str.maketrans(PUNCT, _SPACES)


def _sql_quote(s: str, backslash_escapes: bool) -> str:
    out = s.replace("'", "''")
    if backslash_escapes:
        out = out.replace("\\", "\\\\")
    return "'" + out + "'"


# Spark SQL twin (backslash IS an escape char in Spark string literals).
# Braces inside the punctuation literal are doubled so these templates
# remain str.format-safe ({x} is the only live placeholder).
_PUNCT_LIT = (_sql_quote(PUNCT, backslash_escapes=True)
              .replace("{", "{{").replace("}", "}}"))
NORMALIZE_SQL = (
    "trim(regexp_replace(translate(lower({x}), "
    + _PUNCT_LIT
    + f", '{_SPACES}'), ' +', ' '))"
)

# Cheap raw-row predicate equivalent to `normalize(x) != ''` (true iff
# any non-punctuation, non-space character survives). Safe to let
# Catalyst push below a distinct: translate+lower+trim are codegen'd
# and ~20x cheaper than the full normalize (no regexp) — use this
# BEFORE the distinct instead of filtering the normalized form after
# it, so the optimizer never replicates the expensive expression onto
# per-instance rows.
NONEMPTY_FORM_SQL = (
    "trim(translate(lower({x}), "
    + _PUNCT_LIT
    + f", '{_SPACES}')) != ''"
)


def normalize(s: str) -> str:
    """Canonical surface form: lowercase, punctuation -> space, collapse."""
    return " ".join(t for t in s.lower().translate(_TRANS).split(" ") if t)


def char_shingles(s: str, k: int = 3) -> set[str]:
    """Character k-shingles of a normalized string (padded if short)."""
    if len(s) < k:
        return {s} if s else set()
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def minhash_signature(shingles: set[str], n_hashes: int) -> list[int]:
    """n_hashes-wide minhash: ONE md5 per shingle + Carter-Wegman
    derivations (functions.hashing rationale) — the Python twin of the
    relational signature aggregation."""
    from causalre_spark.functions.hashing import cw_hash

    if not shingles:
        return [0] * n_hashes
    bases = [md5_long(sh) for sh in shingles]
    return [min(cw_hash(b, seed) for b in bases) for seed in range(n_hashes)]


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0


# ---------------------------------------------------------------------------
# Curation-gate twin: EXACT python mirror of the SQL gate signals used
# by streaming.curation_gate_stream (operators/textstats.quality_scores
# + repetition_row_signals), so the fused in-UDF gate (model/udfs.py)
# and the relational gate agree bit-for-bit. Thresholds live here as
# the single source of truth for both sides.

CURATION_MIN_TOKENS = 10
CURATION_MIN_QUALITY = 0.72
CURATION_MAX_DUP_TRIGRAM = 0.60

_QUALITY_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "was")
_PUNCT_KEEP = set(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ")


def round_half_up(x: float, n: int) -> float:
    """Twin of Spark's round() on DOUBLE: BigDecimal.valueOf(x) (=
    shortest decimal repr, same as python repr) quantized HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-n)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def curation_signals(text: str) -> tuple[int, float, float]:
    """(n_tokens, quality_score, dup_trigram_frac) — value-identical to
    the SQL columns of the relational gate (asserted over the driver
    testdata in tests/test_streaming.py)."""
    import math

    toks = normalize(text).split(" ")  # SQL split('', ' ') is [''] too
    n_tokens = len(toks)
    n_punct = sum(1 for ch in text if ch not in _PUNCT_KEEP)
    punct_ratio = round_half_up(n_punct / max(len(text), 1), 4)
    stop_ratio = round_half_up(
        sum(1 for t in toks if t in _QUALITY_STOPWORDS) / max(n_tokens, 1), 4)
    quality = round_half_up(
        (0.4 if n_tokens >= 10 else 0.0)
        + (1.0 - punct_ratio) * 0.3
        + min(stop_ratio * 3, 1.0) * 0.3, 5)
    if n_tokens < 3:
        dup_tri = 0.0
    else:
        tris = [" ".join(toks[i:i + 3]) for i in range(n_tokens - 2)]
        dup_tri = math.floor(
            (1.0 - len(set(tris)) / len(tris)) * 100000) / 100000
    return n_tokens, quality, dup_tri


def curation_keep(text: str) -> bool:
    """The gate decision (single source of truth for both the fused
    in-UDF gate and the relational/streaming gate thresholds)."""
    n_tokens, quality, dup_tri = curation_signals(text)
    return (n_tokens >= CURATION_MIN_TOKENS
            and quality >= CURATION_MIN_QUALITY
            and dup_tri <= CURATION_MAX_DUP_TRIGRAM)
