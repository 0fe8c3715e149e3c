"""spark-submit entrypoint (north_rule: run via spark-submit --py-files
on a multi-executor cluster).

Usage:
  spark-submit --py-files causalre_spark.zip -m causalre_spark.main \\
      --pages <iceberg-table-or-parquet-path> --out <workdir> [--resume]

Local sandbox equivalent:
  python -m causalre_spark.main --synthetic 10000 --out /tmp/kg_run

The workdir receives stage-boundary parquet tables (docs, spans,
relations, entities, triples), the per-partition lineage metrics table
(_metrics), and resume markers; rerunning with --resume skips completed
stages.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="input pages table path (parquet/iceberg)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of reading --pages")
    ap.add_argument("--out", required=True, help="workdir for stage tables")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None,
                    help="local-mode cores (ignored under a real cluster master)")
    ap.add_argument("--config", metavar="YAML",
                    help="PipelineConfig overrides from a YAML file "
                         "(the reference's start.py --config surface)")
    args = ap.parse_args(argv)

    from causalre_spark.pipeline import run_pipeline
    from causalre_spark.session import get_spark
    from causalre_spark.sources.corpus import synth_pages_df

    if args.config:
        from causalre_spark.config import config_from_yaml

        cfg = config_from_yaml(args.config)
    else:
        from causalre_spark.config import DEFAULT_CONFIG as cfg

    # the config sizes the session (shuffle partitions, Arrow batch cap),
    # so it is loaded first
    spark = get_spark(app="causalre_kg", cores=args.cores, cfg=cfg)
    if args.synthetic:
        pages = synth_pages_df(spark, args.synthetic)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages / --synthetic is required")

    t0 = time.time()
    res = run_pipeline(spark, pages, cfg=cfg, workdir=args.out,
                       resume=args.resume)
    n_triples = res["triples"].count()
    print(json.dumps({
        "triples": n_triples,
        "secs": round(time.time() - t0, 2),
        "workdir": args.out,
        # surfaced so a submit wrapper can verify the cluster master it
        # asked for is the one the session actually ran under
        "master": spark.sparkContext.master,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
