"""Driver contract for the causal-KG job (PySpark target).

entry(spark)   — flagship: the production pages -> triples pipeline
                 (run_pipeline) over the sf0.001 documents table adapted
                 to the page schema with a deterministic causal seed mix;
                 returns canonical mention entities with counts
                 (non-empty by construction).
queries()      — the registry (plans/entry_queries.py): the two
                 benchmarked curation operators (dedup_minhash_lsh,
                 curation_verdict; each reads only the sf `documents`
                 table), the gold-split quality families (gold_eval_*,
                 ptron_full_eval_*) and the flagship
                 causal_triples / causal_triples_seeded.
oracle_sql()   — exact DuckDB twins for every query except causal_triples,
                 which is rows-only by design: its golden correctness gate
                 is tests/test_pipeline_parity.py (exact triple-set
                 equality vs the single-process oracle on the same
                 testdata). causal_triples_seeded is hash-gated via a
                 frozen surface fixture keyed by the documents table
                 fingerprint (tools/freeze_seeded.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _ensure_importable(spark: SparkSession) -> None:
    """Ship the checkout's package to the Python workers (the
    spark-submit --py-files equivalent when the driver runs from a
    checkout). addPyFile puts the zip ahead of PYTHONPATH on every
    worker, so the zip is named by a hash of the package sources: a zip
    built from other sources is never shipped, and the same sources
    reuse their zip. A repeated addPyFile of one path is ignored."""
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    root = Path(__file__).resolve().parent
    srcs = {p.relative_to(root).as_posix(): p.read_bytes()
            for p in sorted((root / "causalre_spark").rglob("*.py"))}
    digest = hashlib.sha256()
    for rel, data in srcs.items():
        digest.update(f"{rel}\0{len(data)}\0".encode() + data)
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"causalre_spark_pkg-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for rel, data in srcs.items():
                z.writestr(rel, data)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on the sf0.001 testdata: seeded pages through the
    production pipeline, then the linked entity table with mention and
    surface-form counts."""
    _ensure_importable(spark)
    from causalre_spark.functions.text import NORMALIZE_SQL
    from causalre_spark.pipeline import run_pipeline
    from causalre_spark.plans.entry_queries import _seeded_pages_from_documents

    sf_dir = "/root/testdata/sf0.001"
    res = run_pipeline(spark, _seeded_pages_from_documents(spark, sf_dir))
    # the ONE frozen normalizer (functions.text.NORMALIZE_SQL) on both
    # sides of the join — a second inline normalization here would
    # silently drop any mention whose surface normalizes differently
    # (e.g. non-ASCII, which NORMALIZE_SQL passes through)
    counts = res["spans"].select(
        F.expr(NORMALIZE_SQL.format(x="text")).alias("form")
    ).groupBy("form").agg(F.count(F.lit(1)).alias("n_mentions"))
    return (
        res["entities"].join(counts, "form")
        .groupBy("canonical_id", "canonical_form")
        .agg(F.sum("n_mentions").alias("n_mentions"),
             F.count(F.lit(1)).alias("n_surface_forms"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from causalre_spark.plans.entry_queries import QUERIES

    def _wrap(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_importable(spark)
            return fn(spark, sf_dir)

        return wrapped

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from causalre_spark.plans.entry_queries import ORACLES

    return dict(ORACLES)
