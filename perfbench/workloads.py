"""The benchmark workloads.

Each workload drives `causalre_spark` through its public functions on
seeded inputs, times whole passes, checks every pass against an
independent oracle and turns one traced pass into per-layer numbers.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import StatusApi, Tracer, job_stats

# the curation operator queries: two of the four costliest of the
# historical HEADLINE set. Neither calls into operators.linking, so the
# workload bypasses every kg layer (cc_components, the fourth, runs
# linking.connected_components). Each query costs 2-3 s warm and 3-14 s
# cold whatever the data size, so the other headline queries are left
# out to keep a run inside the benchmark's time budget.
CURATION_QUERIES = ["dedup_minhash_lsh", "curation_verdict"]

# checkpoint stage name -> the layer whose work that stage materializes
STAGE_LAYER = {
    "docs": "pipeline.extract_docs",
    "spans": "pipeline.explode",
    "relations": "pipeline.explode",
    "entities": "operators.linking",
    "triples": "pipeline.canonical_triples",
}
KG_LAYERS = ["pipeline.extract_docs", "pipeline.explode", "operators.linking",
             "operators.linking.mention_form_map", "pipeline.canonical_triples",
             "pipeline.StageIO"]

PER_LAYER = (
    ["sources.corpus.busy_s", "setup.session_s", "setup.inputs_s", "setup.warmup_s"]
    + [f"pipeline.extract_docs.{k}" for k in
       ("busy_s", "docs_out", "spans_out", "rels_out", "ms_per_doc", "docs_per_page")]
    + [f"operators.linking.{k}" for k in
       ("busy_s", "forms", "entities", "jobs", "shuffle_bytes", "entities_per_form")]
    + ["operators.linking.mention_form_map.busy_s",
       "pipeline.explode.busy_s", "pipeline.explode.rows_out"]
    + [f"pipeline.canonical_triples.{k}" for k in
       ("busy_s", "rels_in", "triples_out", "shuffle_bytes", "triples_per_rel")]
    + [f"pipeline.StageIO.{k}" for k in ("write_s", "bytes_written", "partition_skew")]
    + [f"plans.entry_queries.{q}.{k}" for q in CURATION_QUERIES
       for k in ("busy_s", "rows", "jobs", "shuffle_bytes")]
    + [f"session.{k}" for k in ("gc_s", "jobs", "spill_bytes", "task_skew")]
    + ["trace.unattributed_s", "trace.overhead_pct"]
    # wall time and input rows/s of the untraced timed passes (medians)
    + ["pass.wall_s", "pass.input_rows_per_s"]
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


@dataclasses.dataclass
class PassResult:
    wall_s: float
    outputs: object          # what the gate compares
    workdir: str | None = None
    cpu_s: float = 0.0       # CPU time of the process tree (timed passes)
    steal_pct: float = 0.0   # host CPU time given to other guests meanwhile


class Workload:
    """Shared pass bookkeeping; subclasses define the operations.

    Order of calls: make_inputs() (no Spark), expected_job() (the oracle
    answer, computed in a spare process while the session starts and warms
    up), warm_up(spark), run_pass() per timed pass, gate(passes, want)."""

    ops_per_pass = 1
    warm: list = []          # untimed warm-up passes, gated with the timed ones

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.spark = None
        self.setup_parts: dict[str, float] = {}
        self.in_rows = 0

    def run_pass_safely(self, k: int, tracer: Tracer | None = None) -> PassResult | None:
        try:
            return self.run_pass(k, tracer)
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            traceback.print_exc()
            return None

    def gate(self, passes: list[PassResult | None], want) -> tuple[int, int]:
        """(operations attempted, operations failed) over `passes` and the
        warm-up passes; a pass that raised (None) fails all of its operations."""
        passes = passes + self.warm
        done = [p for p in passes if p is not None]
        failed = self.check(done, want) + self.ops_per_pass * (len(passes) - len(done))
        return self.ops_per_pass * len(passes), failed


@contextmanager
def maybe_span(tracer: Tracer | None, name: str):
    if tracer is None:
        yield None
    else:
        with tracer.span(name) as rec:
            yield rec


# ------------------------------------------------------------- kg workload

# max_score is a float column in the sinks and a double in the oracle, so
# the two agree only to float precision; rounding both to a fixed grid
# would split a pair that straddles a grid point
SCORE_TOL = 1e-5


def _triples(rows) -> dict:
    """(cause_id, cause, predicate, effect_id, effect, n_evidence) -> max_score"""
    return {(r["cause_id"], r["cause"], r["predicate"], r["effect_id"], r["effect"],
             r["n_evidence"]): float(r["max_score"]) for r in rows}


def _same_triples(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        abs(got[k] - want[k]) <= SCORE_TOL for k in want)


def oracle_triples(pages_path: str, cfg) -> dict:
    """Triples of a full build of `pages_path` by the single-process
    oracle (runs in a forked process)."""
    from causalre_spark.oracle.pipeline import oracle_pipeline

    pages = pq.read_table(pages_path).to_pylist()
    return _triples(oracle_pipeline(pages, cfg)["triples"])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


@contextmanager
def traced_pipeline(tracer: Tracer):
    """Wrap the pipeline's layer entry points in spans for one traced pass.

    Each checkpointed stage is materialized (persist + count) inside its
    layer's span, so the stage's compute and the StageIO sink write
    (parquet write, read-back, lineage collect) are timed apart."""
    from causalre_spark import pipeline
    from causalre_spark.operators import linking

    orig_ckpt = pipeline.StageIO.checkpoint
    orig_metrics = pipeline.StageIO.write_metrics
    orig_fmap = linking.mention_form_map

    def checkpoint(self, name, df_fn, *args, **kwargs):
        if self.workdir is None or self.done(name):
            return orig_ckpt(self, name, df_fn, *args, **kwargs)
        with tracer.span(STAGE_LAYER.get(name, f"stage.{name}")):
            df = df_fn().persist()
            df.count()
        try:
            with tracer.span("pipeline.StageIO"):
                return orig_ckpt(self, name, lambda: df, *args, **kwargs)
        finally:
            df.unpersist()

    def write_metrics(self):
        with tracer.span("pipeline.StageIO"):
            return orig_metrics(self)

    def mention_form_map(*args, **kwargs):
        with tracer.span("operators.linking.mention_form_map"):
            out = orig_fmap(*args, **kwargs).persist()
            out.count()
        return out

    pipeline.StageIO.checkpoint = checkpoint
    pipeline.StageIO.write_metrics = write_metrics
    linking.mention_form_map = mention_form_map
    try:
        yield
    finally:
        pipeline.StageIO.checkpoint = orig_ckpt
        pipeline.StageIO.write_metrics = orig_metrics
        linking.mention_form_map = orig_fmap


class KgDelta(Workload):
    """Crawl-delta refresh: run_incremental(prior -> prior + delta) on the
    distributed linking path (link_driver_max_forms=0)."""

    prior_pages, delta_pages = 400, 40

    def _pages(self, start: int, n: int) -> list[dict]:
        """Seeded pages, timed as the sources.corpus layer."""
        t0 = time.perf_counter()
        rows = inputs.page_rows(self.seed, start, n)
        self.setup_parts["sources.corpus.busy_s"] += time.perf_counter() - t0
        return rows

    def make_inputs(self) -> None:
        from causalre_spark.config import DEFAULT_CONFIG

        self.cfg = dataclasses.replace(DEFAULT_CONFIG, link_driver_max_forms=0)
        self.setup_parts["sources.corpus.busy_s"] = 0.0
        n_prior, n_delta = (60, 12) if self.smoke else (self.prior_pages, self.delta_pages)
        prior = self._pages(0, n_prior)
        delta = self._pages(n_prior, n_delta)
        inputs.write_pages(prior, os.path.join(self.work, "prior_pages.parquet"))
        inputs.write_pages(prior + delta, os.path.join(self.work, "crawl_pages.parquet"))
        self.in_rows = n_delta

    def expected_job(self):
        # a full build of prior + delta: the run_incremental contract
        return oracle_triples, (os.path.join(self.work, "crawl_pages.parquet"), self.cfg)

    def warm_up(self, spark) -> None:
        """Builds the prior run's sinks with the code under test; this runs
        every stage, the distributed linking path included. It is the whole
        warm-up: the first timed pass is the first refresh in a JVM that has
        done one full build (perfbench/README.md, "Warm-up")."""
        from causalre_spark.pipeline import run_pipeline

        self.spark = spark
        self.prior_wd = os.path.join(self.work, "prior")
        run_pipeline(spark, spark.read.parquet(
            os.path.join(self.work, "prior_pages.parquet")),
            cfg=self.cfg, workdir=self.prior_wd)
        self.prior_rels = spark.read.parquet(
            os.path.join(self.prior_wd, "relations")).count()

    def run_pass(self, k: int, tracer: Tracer | None = None) -> PassResult:
        from causalre_spark.pipeline import run_incremental

        self.spark.catalog.clearCache()
        wd = os.path.join(self.work, f"pass{k}")
        shutil.rmtree(wd, ignore_errors=True)
        layers = traced_pipeline(tracer) if tracer else nullcontext()
        t0 = time.perf_counter()
        with layers, maybe_span(tracer, "pass"):
            run_incremental(self.spark, self.spark.read.parquet(
                os.path.join(self.work, "crawl_pages.parquet")),
                self.prior_wd, wd, cfg=self.cfg)
        wall = time.perf_counter() - t0
        triples = _triples(r.asDict() for r in
                           self.spark.read.parquet(os.path.join(wd, "triples")).collect())
        if tracer is None:
            shutil.rmtree(wd, ignore_errors=True)
        return PassResult(wall, triples, wd)

    def check(self, passes: list[PassResult], want: dict) -> int:
        bad = sum(not _same_triples(p.outputs, want) for p in passes)
        if bad:
            log(f"{bad} pass(es) differ from the oracle triples "
                f"({len(want)} oracle triples)")
        return bad

    def layer_metrics(self, tracer: Tracer, api: StatusApi, res: PassResult,
                      jobs: list[dict], stages: dict) -> dict[str, float]:
        read = self.spark.read.parquet
        wd = res.workdir
        m: dict[str, float] = {}
        by_layer: dict[str, list[dict]] = {n: [] for n in KG_LAYERS}
        for s in tracer.spans:
            if s["name"] in by_layer:
                by_layer[s["name"]].append(s)

        def busy(name):
            return sum(tracer.self_time(s) for s in by_layer[name])

        def stats(name):
            groups = {s["group"] for s in by_layer[name]}
            return job_stats([j for j in jobs if j.get("jobGroup") in groups], stages)

        docs_out = read(os.path.join(wd, "docs")).count()
        spans_out = read(os.path.join(wd, "spans")).count()
        rels_out = read(os.path.join(wd, "relations")).count()
        ent = read(os.path.join(wd, "entities"))
        forms, entities = ent.count(), ent.select("canonical_id").distinct().count()
        rels_in = rels_out + self.prior_rels
        ex = busy("pipeline.extract_docs")
        m["pipeline.extract_docs.busy_s"] = ex
        m["pipeline.extract_docs.docs_out"] = docs_out
        m["pipeline.extract_docs.spans_out"] = spans_out
        m["pipeline.extract_docs.rels_out"] = rels_out
        m["pipeline.extract_docs.ms_per_doc"] = 1000.0 * ex / max(docs_out, 1)
        m["pipeline.extract_docs.docs_per_page"] = docs_out / max(self.in_rows, 1)
        lk = stats("operators.linking")
        m["operators.linking.busy_s"] = busy("operators.linking")
        m["operators.linking.forms"] = forms
        m["operators.linking.entities"] = entities
        m["operators.linking.jobs"] = lk["jobs"]
        m["operators.linking.shuffle_bytes"] = lk["shuffle_bytes"]
        m["operators.linking.entities_per_form"] = entities / max(forms, 1)
        m["operators.linking.mention_form_map.busy_s"] = busy(
            "operators.linking.mention_form_map")
        m["pipeline.explode.busy_s"] = busy("pipeline.explode")
        m["pipeline.explode.rows_out"] = spans_out + rels_out
        ct = stats("pipeline.canonical_triples")
        m["pipeline.canonical_triples.busy_s"] = busy("pipeline.canonical_triples")
        m["pipeline.canonical_triples.rels_in"] = rels_in
        m["pipeline.canonical_triples.triples_out"] = len(res.outputs)
        m["pipeline.canonical_triples.shuffle_bytes"] = ct["shuffle_bytes"]
        m["pipeline.canonical_triples.triples_per_rel"] = len(res.outputs) / max(rels_in, 1)
        lineage = [r.asDict() for r in read(os.path.join(wd, "_metrics")).collect()]
        skew = 1.0
        for stage in {r["stage"] for r in lineage if r["partition"] >= 0}:
            rows = [r["rows"] for r in lineage if r["stage"] == stage]
            if sum(rows):
                skew = max(skew, max(rows) / (sum(rows) / len(rows)))
        m["pipeline.StageIO.write_s"] = busy("pipeline.StageIO")
        m["pipeline.StageIO.bytes_written"] = _dir_bytes(wd)
        m["pipeline.StageIO.partition_skew"] = skew
        shutil.rmtree(wd, ignore_errors=True)
        return m


# ---------------------------------------------------------- curation workload

def duckdb_expected(data_dir: str, queries: list[str]) -> dict[str, tuple]:
    """(rows, sorted columns, value hash) of each query's DuckDB twin, as
    tools/check_entry.py compares them (runs in a forked process)."""
    import duckdb

    from causalre_spark.plans.entry_queries import ORACLES
    from tools.check_entry import value_hash

    con = duckdb.connect(config={"threads": 1})
    try:
        for t in inputs.CURATION_ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for name in queries:
            odf = con.execute(ORACLES[name]).df()
            out[name] = (len(odf), sorted(odf.columns), value_hash(odf))
        return out
    finally:
        con.close()


class CurationOps(Workload):
    """One pass over the curation operator queries on a seeded table; the
    seed also permutes the query order."""

    ops_per_pass = len(CURATION_QUERIES)

    def make_inputs(self) -> None:
        self.data = os.path.join(self.work, "tables")
        rows = inputs.write_curation_tables(self.seed, self.data,
                                            scale=0.1 if self.smoke else 1.0)
        self.in_rows = sum(rows.values())
        self.order = list(CURATION_QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def expected_job(self):
        return duckdb_expected, (self.data, self.order)

    def warm_up(self, spark) -> None:
        """A cold and a warm untimed pass (perfbench/README.md, "Warm-up")."""
        self.spark = spark
        self.warm = [self.run_pass_safely(-2), self.run_pass_safely(-1)]

    def run_pass(self, k: int, tracer: Tracer | None = None) -> PassResult:
        from causalre_spark.plans.entry_queries import QUERIES

        frames = {}
        t0 = time.perf_counter()
        with maybe_span(tracer, "pass"):
            for name in self.order:
                with maybe_span(tracer, f"plans.entry_queries.{name}"):
                    frames[name] = QUERIES[name](self.spark, self.data).toPandas()
        wall = time.perf_counter() - t0
        # several queries persist intermediates; a later pass must not
        # read them back as cache hits
        self.spark.catalog.clearCache()
        return PassResult(wall, frames)

    def check(self, passes: list[PassResult], want: dict[str, tuple]) -> int:
        from tools.check_entry import value_hash

        bad = 0
        for p in passes:
            for name, sdf in p.outputs.items():
                if (len(sdf), sorted(sdf.columns), value_hash(sdf)) != want[name]:
                    log(f"query {name} differs from its DuckDB twin")
                    bad += 1
        return bad

    def layer_metrics(self, tracer: Tracer, api: StatusApi, res: PassResult,
                      jobs: list[dict], stages: dict) -> dict[str, float]:
        m: dict[str, float] = {}
        for s in tracer.spans:
            if not s["name"].startswith("plans.entry_queries."):
                continue
            st = job_stats([j for j in jobs if j.get("jobGroup") == s["group"]], stages)
            q = s["name"]
            m[f"{q}.busy_s"] = tracer.self_time(s)
            m[f"{q}.rows"] = len(res.outputs[q.rsplit(".", 1)[1]])
            m[f"{q}.jobs"] = st["jobs"]
            m[f"{q}.shuffle_bytes"] = st["shuffle_bytes"]
        return m


WORKLOADS = {"kg_delta": KgDelta, "curation_ops": CurationOps}
