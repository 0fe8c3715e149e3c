"""Shuffle-volume audit: run the full pipeline on a corpus and report
per-stage shuffle read/write bytes from the Spark status REST API.

Motivation: the scale argument for
the tail (linking + CC + canonical triples) is that its SHUFFLE VOLUME
grows linearly in pages while the extract stage is map-only (zero
shuffle), so at production scale the job is compute-bound in extract
and the tail's shuffle never becomes super-linear. Wall-clock on this
noisy host cannot cleanly show that; bytes can — shuffle volumes are
deterministic, so this audit needs no warm/interleave protocol.

Usage:
    python tools/shuffle_audit.py /tmp/causalre_bench_corpus_500000
prints one JSON line:
    {"n_pages": ..., "n_triples": ..., "shuffle_write_bytes": ...,
     "shuffle_read_bytes": ..., "extract_shuffle_write_bytes": ...,
     "top_stages": [{"name": ..., "write_bytes": ...}, ...]}

Run once per corpus size; compare bytes-per-page across sizes.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from causalre_spark.config import DEFAULT_CONFIG
from causalre_spark.pipeline import extract_docs, run_pipeline
from causalre_spark.session import get_spark

def _make_api(spark):
    # spark.port.maxRetries rebinds the UI when the requested port is
    # taken — a hardcoded URL would then read a DIFFERENT app's totals.
    # uiWebUrl is the port this app actually bound.
    base = spark.sparkContext.uiWebUrl

    def _api(path: str):
        with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
            return json.loads(r.read())

    return _api


def main() -> None:
    corpus = sys.argv[1]
    spark = get_spark(
        app="shuffle_audit",
        extra_conf={"spark.ui.enabled": "true"})
    _api = _make_api(spark)
    pages = spark.read.parquet(corpus)
    n_pages = pages.count()

    app_id = _api("applications")[0]["id"]

    def totals():
        stages = _api(f"applications/{app_id}/stages?status=complete")
        return (sum(s["shuffleWriteBytes"] for s in stages),
                sum(s["shuffleReadBytes"] for s in stages),
                stages)

    # extract-only pass first: MEASURES (not infers) that the dominant
    # compute stage is shuffle-free — its delta must be 0 bytes. AQE
    # anonymizes stage names, so snapshot deltas are the only reliable
    # attribution the status API offers.
    w0, r0, _ = totals()
    extract_docs(pages, DEFAULT_CONFIG).count()
    w1, r1, _ = totals()

    timings: dict = {}
    res = run_pipeline(spark, pages, timings=timings)
    n_triples = res["triples"].count()

    total_w, total_r, stages = totals()
    extract_w = w1 - w0
    # attribute the pipeline run alone: exclude the page-count and
    # extract-only probe passes, or a nonzero extract shuffle would be
    # double-counted in the headline per-page figure
    pipe_w, pipe_r = total_w - w1, total_r - r1
    top = sorted(stages, key=lambda s: -s["shuffleWriteBytes"])[:8]
    print(json.dumps({
        "corpus": corpus,
        "n_pages": n_pages,
        "n_triples": n_triples,
        "n_stages": len(stages),
        "shuffle_write_bytes": pipe_w,
        "shuffle_read_bytes": pipe_r,
        "extract_shuffle_write_bytes": extract_w,
        "write_bytes_per_page": round(pipe_w / max(n_pages, 1), 2),
        "extract_secs": timings.get("docs_secs"),
        "top_stages": [
            {"stage": s["stageId"],
             "name": s.get("name", "")[:80],
             "write_mb": round(s["shuffleWriteBytes"] / 1e6, 2),
             "read_mb": round(s["shuffleReadBytes"] / 1e6, 2)}
            for s in top],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
