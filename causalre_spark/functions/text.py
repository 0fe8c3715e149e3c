"""Frozen text normalization, shingling and MinHash helpers.

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
