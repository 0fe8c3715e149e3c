"""Portable deterministic hashing.

Every hash that crosses the Spark <-> DuckDB oracle boundary (minhash,
LSH band keys, gram keys, deterministic tie-break scores) is derived from
``md5()`` hex digits through SQL that evaluates identically in Spark SQL
and DuckDB: ``md5`` returns the same lowercase hex in both engines, and
the hex->bigint conversion is spelled with ``instr``/``substring``
arithmetic that both engines share. The Python twin ``md5_long`` is used
by the single-process oracle (causalre_spark/oracle) and inside NumPy
UDF code so all three worlds agree bit-for-bit.

Why not engine-native ``hash()``: Spark's Murmur3 and DuckDB's hash
differ, which would make cross-engine value-hash comparison impossible.
"""

from __future__ import annotations

import hashlib

HEX_DIGITS = "0123456789abcdef"

# 12 hex chars = 48 bits: fits comfortably in BIGINT in both engines and
# is exactly representable as a float64 (< 2^53), so even a lossy
# double-precision comparison path cannot disagree.
DEFAULT_NHEX = 12


def md5_long(s: str, nhex: int = DEFAULT_NHEX) -> int:
    """Python twin of :func:`md5_long_sql` — first `nhex` hex chars of md5."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:nhex], 16)


def md5_long_sql(expr: str, nhex: int = DEFAULT_NHEX) -> str:
    """SQL expression: md5(expr) first `nhex` hex chars as BIGINT.

    Valid, and identical in result, in Spark SQL and DuckDB. ``expr``
    must be a string-typed SQL expression.
    """
    h = f"md5({expr})"
    terms = []
    for i in range(1, nhex + 1):
        digit = f"(instr('{HEX_DIGITS}', substring({h}, {i}, 1)) - 1)"
        shift = 16 ** (nhex - i)
        terms.append(f"{digit} * CAST({shift} AS BIGINT)" if shift > 1 else digit)
    return "(" + " + ".join(terms) + ")"


def md5_long_sql_spark(expr: str, nhex: int = DEFAULT_NHEX) -> str:
    """Spark-only twin of :func:`md5_long_sql` — identical VALUE, one md5
    evaluation via conv() (Spark has conv; DuckDB does not, so oracles
    keep the instr expansion — the engines only need equal values, and
    the oracle runs once on small data)."""
    return f"cast(conv(substring(md5({expr}), 1, {nhex}), 16, 10) as bigint)"


# ---------------------------------------------------------------------------
# MinHash family: ONE md5 per value + Carter-Wegman universal-hash
# derivations. The previous family md5(seed || '#' || x) evaluated
# n_hashes md5s per shingle row — at 10^12 docs the signature groupBy is
# where dedup CPU goes, so the md5 count per row is the constant that
# matters. Now: base = md5_long(x) once, then
#   h_seed(x) = (a_seed * (base mod p) + b_seed) mod p,  p = 2^31 - 1
# (2-universal family; a/b are md5-derived constants, so the family is
# frozen and identical in Spark SQL, DuckDB SQL, and Python). Products
# stay < 2^62: BIGINT-safe and bit-identical in both engines.
# ---------------------------------------------------------------------------

MERSENNE31 = (1 << 31) - 1


def cw_params(seed: int) -> tuple[int, int]:
    """Frozen per-seed (a, b) with 1 <= a < p, 0 <= b < p."""
    a = md5_long(f"cw:a:{seed}") % (MERSENNE31 - 1) + 1
    b = md5_long(f"cw:b:{seed}") % MERSENNE31
    return a, b


def cw_hash_sql(base_expr: str, seed: int) -> str:
    """SQL (valid in Spark AND DuckDB): CW hash of a BIGINT expression.
    Project the md5 base ONCE per row and fan out the cheap integer
    derivations — do not inline an md5 into base_expr n_hashes times."""
    a, b = cw_params(seed)
    return f"(({a} * (({base_expr}) % {MERSENNE31}) + {b}) % {MERSENNE31})"


def cw_hash(base: int, seed: int) -> int:
    """Python twin of :func:`cw_hash_sql`."""
    a, b = cw_params(seed)
    return (a * (base % MERSENNE31) + b) % MERSENNE31


def minhash_sql(expr: str, seed: int, nhex: int = DEFAULT_NHEX) -> str:
    """DuckDB SQL for one hash-family member over a STRING expression.
    Prefer projecting md5_long once and using cw_hash_sql directly."""
    return cw_hash_sql(md5_long_sql(expr, nhex=nhex), seed)


def minhash_long(s: str, seed: int, nhex: int = DEFAULT_NHEX) -> int:
    """Python twin of :func:`minhash_sql`."""
    return cw_hash(md5_long(s, nhex=nhex), seed)
