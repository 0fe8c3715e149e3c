"""Embedding similarity search (training-data pipeline ops): exact
brute-force cosine top-k against one query row.

All arithmetic is JVM-side (aggregate/zip_with over array<float>) — no
Python UDFs in the hot path. Cosines are rounded before ranking so the
Spark and DuckDB float-summation orders cannot flip the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _topk_ranked(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global top-k + dense 1..k rank over (cosine desc, id asc).

    orderBy(...).limit(k) compiles to TakeOrderedAndProject — a
    per-partition bounded heap merged on the driver — instead of the
    row_number-over-global-Window shape, which funnels every candidate
    row through one partition's sort (WindowGroupLimit caps it, but the
    single-partition exchange remains). The rank window that follows
    runs over the ALREADY k-bounded rows, so its one-partition sort
    touches <= k rows by construction."""
    order = [F.col("cosine").desc(), F.col(id_col).asc()]
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rn", F.row_number().over(w))
        .select(id_col, "cosine", F.col("rn").cast("long").alias("rank"))
    )


def cosine_topk(
    emb: DataFrame, query_id: int, k: int, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Top-k rows by cosine similarity to the row with id = query_id.

    The 1-row query side is broadcast — no shuffle of the big side.
    Deterministic order: rounded cosine desc, id asc. `dim` is
    accepted for signature parity with the pair scorers but the
    aggregate/zip_with spelling is kept deliberately: this is ONE dot
    per corpus row (linear, not quadratic), and the unrolled chain's
    codegen + JIT compile cost exceeds everything the faster inner
    loop saves at any corpus size (measured 0.35 s -> 1.0 s at bench
    sf0.1 when unrolled — the compile is per-plan, the scan is one
    pass).
    """
    # the query norm is a scalar: compute it once on the 1-row
    # broadcast side, not per corpus row (bit-identical doubles)
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec"),
        F.expr(_norm(vec_col)).alias("qn"))
    joined = emb.filter(F.col(id_col) != query_id).join(F.broadcast(q))
    scored = joined.select(
        F.col(id_col),
        F.round(
            F.expr(_dot(vec_col, "qvec"))
            / (F.expr(_norm(vec_col)) * F.col("qn")),
            4,
        ).alias("cosine"),
    )
    return _topk_ranked(scored, k, id_col)
