"""causalre_spark — a from-scratch PySpark-native causal knowledge-graph
construction pipeline with the query/data-processing capabilities of the
reference span-based causal relation-extraction stack
(nathanpaulscott/CausalRE, read-only at /root/reference).

This is NOT a port: the reference is a single-GPU PyTorch research stack;
this package re-expresses what it computes (span enumeration, cause/effect
span classification, causal relation scoring, triple emission) as a
distributed Spark DataFrame pipeline over a web-page corpus, adding the
web-scale stages the reference lacks (entity linking/canonicalization,
dedup, graph materialization, checkpoint/resume, skew handling).

Layout:
  functions/   portable scalar/hash expressions (identical in Spark & DuckDB)
  model/       frozen deterministic numeric model (NumPy; runs inside Arrow UDFs)
  operators/   relational operators (dedup, linking, metrics, perceptron taggers, ...)
  sources/     corpus generation + readers/writers (parquet now, Iceberg-shaped API)
  oracle/      single-process pure-Python golden pipeline for parity tests
  pipeline.py  end-to-end pages -> triples driver with checkpoint/resume
"""

import os

__version__ = "0.1.0"

# committed oracle/model fixtures, resolved from the package location so
# every checkout reads its own tree
FIXTURES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
