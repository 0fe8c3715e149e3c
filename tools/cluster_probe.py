"""True multi-executor scaling probe: `local-cluster[W, C, mem]`.

The north_rule asks for the pipeline "run via spark-submit --py-files on
a multi-executor cluster at two cluster sizes (N and 4N executors)".
Thread-based local[N] runs only approximate that; this probe goes one
step closer to the real thing: Spark's local-cluster master spawns
SEPARATE Worker/Executor JVMs with real netty shuffle transfer, executor-side python workers and
per-executor heaps — the same execution topology as a standalone
cluster, minus the network. We submit the exact cluster shape:

    spark-submit --master local-cluster[W,2,mem] \
                 --py-files causalre_spark.zip tools/cluster_probe.py ...

at W=1 and W=4 executors (2 cores each -> 2 vs 8 total cores), with a
warm-then-timed protocol, interleaved min-of-N. Results land in
BENCH/CLUSTER.md.

Parent mode:  python tools/cluster_probe.py            (orchestrates)
Child mode:   spark-submit ... tools/cluster_probe.py --child --corpus P
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(corpus: str) -> None:
    """Runs INSIDE spark-submit: warm + timed pipeline pass, one JSON line."""
    from causalre_spark.pipeline import run_pipeline
    from causalre_spark.session import get_spark

    spark = get_spark(app="cluster_probe")  # master comes from submit
    sc = spark.sparkContext
    pages = spark.read.parquet(corpus).persist()
    pages.agg({"html": "count"}).collect()
    n_pages = pages.count()
    warm = run_pipeline(spark, pages, verify_extraction=False)
    warm["triples"].count()
    for k in ("docs", "spans", "relations", "entities", "triples"):
        warm[k].unpersist()
    spark.catalog.clearCache()
    pages.persist()
    pages.agg({"html": "count"}).collect()
    timings: dict = {}
    t0 = time.time()
    res = run_pipeline(spark, pages, verify_extraction=False,
                       timings=timings)
    n_triples = res["triples"].count()
    secs = time.time() - t0
    out = {
        "master": sc.master,
        "executors": sc.getConf().get("spark.executor.instances", ""),
        "n_pages": n_pages,
        "n_triples": n_triples,
        "secs": round(secs, 2),
        "extract_secs": timings.get("docs_secs"),
        "tail_secs": round(secs - (timings.get("docs_secs") or 0), 2),
        "docs_per_sec": round(n_pages / secs, 2),
    }
    print("CLUSTER_PROBE_JSON " + json.dumps(out))
    spark.stop()


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


def _leg(submit: str, zip_path: str, workers: int, corpus: str,
         mem_mb: int = 10240, timeout: int = 3600) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # local-cluster resolves worker classes through SPARK_HOME; the pip
    # distribution ships the full jars dir, so point at the package
    import pyspark

    env["SPARK_HOME"] = os.path.dirname(pyspark.__file__)
    env["SPARK_DRIVER_MEM"] = "8g"
    xms = f"-Xms{int(mem_mb * 0.8) // 1024}g"
    cmd = [
        submit, "--master", f"local-cluster[{workers},2,{mem_mb}]",
        "--conf", "spark.driver.memory=8g",  # must be set pre-JVM here,
        # not via get_spark's in-session conf (ignored under submit)
        "--conf", "spark.executor.memory=8g",
        "--conf", f"spark.executor.extraJavaOptions={xms}",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "cluster_probe.py"),
        "--child", "--corpus", corpus,
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout,
                       env=env, cwd=REPO)
    lines = [ln for ln in r.stdout.splitlines()
             if ln.startswith("CLUSTER_PROBE_JSON ")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(
            f"leg W={workers} failed rc={r.returncode}:\n"
            f"{r.stderr[-4000:]}\n{r.stdout[-2000:]}")
    out = json.loads(lines[-1].split(" ", 1)[1])
    out["workers"] = workers
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--corpus", default="/tmp/causalre_bench_corpus_250000")
    ap.add_argument("--pairs", type=int, default=2)  # fixed BEFORE sampling
    ap.add_argument("--leg-timeout", type=int, default=3600,
                    help="per-leg spark-submit timeout in seconds (the "
                         "1-executor warm+timed pass at 2M pages needs "
                         "more than the old fixed 3600)")
    ap.add_argument("--append", action="store_true",
                    help="append a section to BENCH/CLUSTER.md instead of "
                         "rewriting it (for extra corpus-size legs)")
    args = ap.parse_args()
    if args.child:
        child(args.corpus)
        return

    submit = _spark_submit()
    zip_base = "/tmp/causalre_spark_pkg"
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=REPO,
                                   base_dir="causalre_spark")
    lo_runs, hi_runs = [], []
    for i in range(args.pairs):
        lo_runs.append(_leg(submit, zip_path, 1, args.corpus,
                            timeout=args.leg_timeout))
        hi_runs.append(_leg(submit, zip_path, 4, args.corpus,
                            timeout=args.leg_timeout))
        print(f"pair {i + 1}: lo={lo_runs[-1]['secs']}s "
              f"hi={hi_runs[-1]['secs']}s", file=sys.stderr)
    lo = min(lo_runs, key=lambda r: r["secs"])
    hi = min(hi_runs, key=lambda r: r["secs"])
    eff = (lo["secs"] / hi["secs"]) / 4
    eff_extract = (lo["extract_secs"] / hi["extract_secs"]) / 4
    result = {"low": lo, "high": hi, "efficiency": round(eff, 3),
              "efficiency_extract_stage": round(eff_extract, 3),
              "all_runs": {"low": lo_runs, "high": hi_runs}}
    md = os.path.join(REPO, "BENCH", "CLUSTER.md")
    os.makedirs(os.path.dirname(md), exist_ok=True)
    with open(md, "a" if args.append else "w") as f:
        if args.append:
            f.write(
                f"\n## Extra leg — {lo['n_pages']} pages "
                f"(min-of-{args.pairs} interleaved)\n\n")
        else:
            f.write(
                "# CLUSTER — true multi-executor scaling "
                "(spark-submit + local-cluster)\n\n"
                "Separate Worker/Executor JVMs, real netty shuffle, package "
                "shipped via --py-files — the standalone-cluster execution "
                "topology minus the network (tools/cluster_probe.py). Same "
                "corpus, warm-then-timed protocol and interleaved min-of-"
                f"{args.pairs}.\n\n")
        f.write(
            "| executors | total cores | pages | triples | secs | "
            "extract secs | tail secs | docs/sec |\n"
            "|---|---|---|---|---|---|---|---|\n")
        for r in (lo, hi):
            f.write(f"| {r['workers']} | {r['workers'] * 2} "
                    f"| {r['n_pages']} | {r['n_triples']} | {r['secs']} "
                    f"| {r['extract_secs']} | {r['tail_secs']} "
                    f"| {r['docs_per_sec']} |\n")
        f.write(
            f"\n**1 -> 4 executors (4x) end-to-end scaling efficiency: "
            f"{result['efficiency']}** (extract stage: "
            f"{result['efficiency_extract_stage']}); all samples: "
            f"lo={[r['secs'] for r in lo_runs]}, "
            f"hi={[r['secs'] for r in hi_runs]}.\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
