"""Irrational-offset grid quantization — THE policy implementation for
cross-engine-stable finite-decimal aggregates (README "Cross-engine
determinism policy" rule 3).

Why not round(): Spark rounds half-up (BigDecimal), DuckDB half-to-even,
and real aggregates of ints/fixed-decimal values land EXACTLY on the
half grid (avg of 24 two-decimal values = 51.51125). Why not plain
floor-truncation: the same finite-decimal rationals sit exactly on
truncation boundaries, where a 1-ulp cross-engine summation-order
difference flips the cell.
The irrational offset keeps every finite-decimal rational strictly off
the cell boundary, so neither rounding mode nor ulp noise can disagree.

Quantize ANY new finite-decimal aggregate as
``floor(x * 10^k + GRID_OFFSET) / 10^k`` on both engines. Transcendental
aggregates (log sums, stddev, cosines) may keep round() — they cannot
land on a tie. tests/test_properties.py lints the source tree so every
inline occurrence of the constant uses the canonical digits and scale
form.
"""

from __future__ import annotations

GRID_OFFSET = 0.3141592653589793  # pi/10 — any irrational works
