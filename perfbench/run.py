"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_delta --seed 1 --seconds 10 --trace 0

Runs one workload in one process on local[nproc]: set-up (session start,
seeded inputs, warm-up), then timed passes until --seconds have elapsed
(at least two), then the correctness gate. With --trace 1 one extra
traced pass follows the timed ones and the per-layer metrics are
reported instead of the end-to-end ones. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_env(work: str) -> int:
    """Size Spark from the host and keep every file it writes under `work`;
    returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # an eighth of the RAM for the driver JVM (1-8 GiB); the rest is left
    # to the Python workers, the page cache and other tenants
    driver_mb = min(max(mem_kb // 8192, 1024), 8192)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # JVMs keep their perf-data file in /tmp unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import causalre_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return cores


def start_session(cores: int, work: str, trace: bool):
    from causalre_spark.session import get_spark

    # the heap is committed up front (-Xms = driver memory) so G1 never
    # resizes it mid-run: resizing moves both pass times and peak RSS.
    # C1 only (TieredStopAtLevel=1): on a 4-core host C2 keeps compiling
    # the planner and the generated stage code for minutes, on one to two
    # of the four cores, so pass times drift down for ten or more passes
    # and the timed pass lands wherever the compiler happens to be. With
    # C1 the passes settle within one or two warm-up passes
    # (perfbench/README.md, "Warm-up"). C1 keeps more compiled code,
    # hence the larger code cache (the C1-only default of 48 MB fills).
    heap = os.environ["SPARK_DRIVER_MEM"]
    tmp = os.path.join(work, "tmp")
    jvm = (f"-Xms{heap} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m "
           f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    conf = {
        # the session default (32) is sized for a 32-core host; two
        # partitions per core keeps every core busy without tiny tasks
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm,
    }
    return get_spark(app="perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM and its Python workers have
    exited (the JVM leaves when its stdin, held by this process, closes)."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    workers = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def fork_job(fn, args: tuple):
    """Run fn(*args) in a forked child (call before any thread or JVM
    exists); returns a function that waits for the child and returns the
    result, or raises if fn raised."""
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:
        os.close(r)
        try:
            data = pickle.dumps((True, fn(*args)))
        except BaseException:  # noqa: BLE001 — reported to the parent
            data = pickle.dumps((False, traceback.format_exc()))
        with os.fdopen(w, "wb") as fh:
            fh.write(data)
        os._exit(0)
    os.close(w)

    def result():
        with os.fdopen(r, "rb") as fh:
            data = fh.read()
        os.waitpid(pid, 0)
        ok, value = pickle.loads(data)  # written by our own child
        if not ok:
            raise RuntimeError(f"oracle process failed:\n{value}")
        return value

    return result


MIN_PASSES = 2
# the end-to-end metrics of a --trace 0 run, as BENCHMARK.json lists them
E2E = ("cpu_s", "setup_s", "peak_rss_mb")


def measure(wl, seconds: float) -> list:
    """Timed passes until `seconds` have elapsed (at least MIN_PASSES).
    Each pass also gets the CPU time of the process tree and the share of
    the host's CPU time the hypervisor gave to other guests meanwhile."""
    from perfbench.trace import host_steal, tree_cpu_s
    from perfbench.workloads import log

    passes, notes = [], []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        c0, (s0, a0) = tree_cpu_s(os.getpid()), host_steal()
        res = wl.run_pass_safely(len(passes))
        c1, (s1, a1) = tree_cpu_s(os.getpid()), host_steal()
        steal = 100.0 * (s1 - s0) / max(a1 - a0, 1)
        if res is not None:
            res.cpu_s, res.steal_pct = c1 - c0, steal
            notes.append(f"{res.wall_s:.2f}s/{res.cpu_s:.1f}cpu/{steal:.1f}%st")
        passes.append(res)
    log("passes (wall/cpu/steal): " + " ".join(notes))
    return passes


def traced_metrics(wl, spark, k: int, untraced_wall: float, trace_path: str):
    """One traced pass, numbered k -> (pass result, per-layer metrics)."""
    from perfbench.trace import StatusApi, Tracer, job_stats, write_spans
    from perfbench.workloads import PER_LAYER

    api = StatusApi(spark)
    before = api.last_job_id()
    tracer = Tracer(spark, f"{wl.__class__.__name__}-{wl.seed}")
    res = wl.run_pass_safely(k, tracer)
    write_spans(trace_path, tracer)
    m = {name: 0.0 for name in PER_LAYER}
    m.update(wl.setup_parts)
    if res is None:
        return None, m
    jobs = api.jobs_after(before)
    stages = api.stages()
    m.update(wl.layer_metrics(tracer, api, res, jobs, stages))
    s = job_stats(jobs, stages, api)
    m["session.gc_s"] = s["gc_s"]
    m["session.jobs"] = s["jobs"]
    m["session.spill_bytes"] = s["spill_bytes"]
    m["session.task_skew"] = s["task_skew"]
    root = next(sp for sp in tracer.spans if sp["name"] == "pass")
    m["trace.unattributed_s"] = tracer.self_time(root)
    # spans, job groups and the per-stage persist + count against the
    # untraced passes of this session; the UI is on in both, so its own
    # cost is not in this figure (compare the wall_s a --trace 0 run prints)
    m["trace.overhead_pct"] = 100.0 * (res.wall_s / untraced_wall - 1.0)
    return res, m


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: checks the harness, measures nothing")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "causalre_spark")):
        print("causalre_spark not found beside perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import RssSampler
    from perfbench.workloads import WORKLOADS, log

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = host_env(work)

    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    t0 = time.perf_counter()
    wl.make_inputs()
    wl.setup_parts["setup.inputs_s"] = time.perf_counter() - t0
    # the oracle answer is computed in a forked process during the session
    # start and warm-up (both leave cores idle); it is joined before the
    # first timed pass, so it never overlaps the timed section
    expected = fork_job(*wl.expected_job())
    t0 = time.perf_counter()
    spark = start_session(cores, work, bool(args.trace))
    wl.setup_parts["setup.session_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.warm_up(spark)
        wl.setup_parts["setup.warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        want = expected()
    except BaseException:
        stop_session(spark)
        raise
    try:
        log(f"{args.workload} seed {args.seed}: set-up {setup_s:.1f} s on local[{cores}] "
            + " ".join(f"{k}={v:.1f}" for k, v in wl.setup_parts.items()))
        with RssSampler() as rss:
            passes = measure(wl, args.seconds)
        ok = [p for p in passes if p is not None]
        if not ok:
            log("every timed pass failed")
            return 1
        wall = statistics.median(p.wall_s for p in ok)
        summary = {
            "wall_s": wall,
            "input_rows_per_s": wl.in_rows / wall,
            "cpu_s": statistics.median(p.cpu_s for p in ok),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 2**20,
            "host_steal_pct": statistics.median(p.steal_pct for p in ok),
        }
        if args.trace:
            traced, metrics = traced_metrics(
                wl, spark, len(passes), wall,
                os.path.join(bench_dir, "traces", f"{args.workload}-seed{args.seed}.json"))
            metrics["pass.wall_s"] = wall
            metrics["pass.input_rows_per_s"] = summary["input_rows_per_s"]
            passes.append(traced)
        attempted, failed = wl.gate(passes, want)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {"wall_s": "s", "input_rows_per_s": "rows/s", "cpu_s": "s", "setup_s": "s",
             "peak_rss_mb": "MiB", "host_steal_pct": "%", "pass.wall_s": "s",
             "pass.input_rows_per_s": "rows/s"}
    for name, value in summary.items():
        print(f"{args.workload:13s} {name:55s} {value:14.4f} {units[name]}")
    if not args.trace:
        # wall time swings with the host's steal (perfbench/README.md,
        # "Why CPU time"); it is printed above and reported per layer
        metrics = {k: summary[k] for k in E2E}
    else:
        for name, value in metrics.items():
            print(f"{args.workload:13s} {name:55s} {value:14.4f} "
                  f"{units.get(name) or per_layer_unit(name)}")
    units.update({k: per_layer_unit(k) for k in metrics if k not in units})
    print(f"{args.workload:13s} {'fail_ratio':55s} {failed / attempted:14.4f} ratio "
          f"({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def per_layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf.endswith("_pct"):
        return "%"
    if leaf.startswith("ms_"):
        return "ms"
    if leaf in ("partition_skew", "task_skew") or "_per_" in leaf:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
