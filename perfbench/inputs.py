"""Seeded benchmark inputs.

Everything a workload feeds the program is a pure function of
(workload, seed, size): the page corpora come from
`causalre_spark.sources.corpus.gen_page` over an index range offset by
the seed, and the curation table from a NumPy generator seeded with it.
The program only sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# seeds map to disjoint page-index ranges: every seed is a fresh corpus
# drawn from the same distribution
PAGE_SEED_STRIDE = 1_000_003


def page_rows(seed: int, start: int, n: int) -> list[dict]:
    from causalre_spark.sources.corpus import gen_page

    base = seed * PAGE_SEED_STRIDE
    return [gen_page(base + i) for i in range(start, start + n)]


def write_pages(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows), path)


# --- curation tables, made by tools/gen_scaled_data.py with the schema and
# value domains of the testdata tables the operator queries read

# table -> rows, sized like the sf0.01 testdata tables
CURATION_ROWS = {"documents": 500}


def write_curation_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the tables the curation queries read; returns their row counts."""
    from tools.gen_scaled_data import gen_documents

    rng = np.random.default_rng(seed)
    rows = {t: max(int(n * scale), 20) for t, n in CURATION_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(gen_documents(rng, rows["documents"]),
                   os.path.join(out_dir, "documents.parquet"))
    return rows
