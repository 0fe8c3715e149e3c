"""Checkpoint/resume (north_rule): rerun skips completed stages,
produces the identical result, and writes per-partition lineage."""

import os
import shutil
import time

from pyspark.sql import functions as F

from causalre_spark.pipeline import run_pipeline
from causalre_spark.sources.corpus import synth_pages_df

WD = "/tmp/causalre_test_wd"


def _triples_set(res):
    return {(r.cause_id, r.effect_id, r.n_evidence) for r in res["triples"].collect()}


def test_resume_identical_and_fast(spark):
    shutil.rmtree(WD, ignore_errors=True)
    pages = synth_pages_df(spark, 30, partitions=4)
    t0 = time.time()
    first = _triples_set(run_pipeline(spark, pages, workdir=WD))
    fresh_secs = time.time() - t0
    assert os.path.exists(os.path.join(WD, "triples", "_SUCCESS"))

    t0 = time.time()
    second = _triples_set(run_pipeline(spark, pages, workdir=WD, resume=True))
    resumed_secs = time.time() - t0
    assert second == first
    assert resumed_secs < fresh_secs / 2  # stages actually skipped

    # partial resume: drop the final stage only -> it alone is recomputed
    shutil.rmtree(os.path.join(WD, "triples"))
    third = _triples_set(run_pipeline(spark, pages, workdir=WD, resume=True))
    assert third == first

    metrics = spark.read.parquet(os.path.join(WD, "_metrics"))
    assert [(f.name, f.dataType.simpleString()) for f in metrics.schema] == [
        ("stage", "string"), ("partition", "int"), ("rows", "bigint")]
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert {"docs", "spans", "relations", "entities", "triples"} <= stages
    # lineage covers every row: per stage, its partition rows sum to the sink
    lineage = {r["stage"]: r["rows"]
               for r in metrics.groupBy("stage").agg(F.sum("rows").alias("rows"))
               .collect()}
    for stage in ("docs", "spans", "relations", "entities", "triples"):
        sink = spark.read.parquet(os.path.join(WD, stage)).count()
        assert lineage[stage] == sink, (stage, lineage[stage], sink)


def test_partitioned_triple_sink_and_resume(spark):
    """S5: the triples sink is one unpartitioned parquet table (part
    files directly under `triples/`, no `_p=` bucket directories, no
    `_p` column), and resume reads it back unchanged."""
    import glob

    wd = "/tmp/causalre_test_wd_part"
    shutil.rmtree(wd, ignore_errors=True)
    pages = synth_pages_df(spark, 30, partitions=4)
    first = _triples_set(run_pipeline(spark, pages, workdir=wd))
    assert first, "synthetic corpus should produce triples"
    sink = os.path.join(wd, "triples")
    assert not glob.glob(os.path.join(sink, "_p=*"))
    assert glob.glob(os.path.join(sink, "part-*.parquet"))

    res2 = run_pipeline(spark, pages, workdir=wd, resume=True)
    assert "_p" not in res2["triples"].columns
    assert _triples_set(res2) == first
    shutil.rmtree(wd, ignore_errors=True)


def test_iceberg_branch_write_read_resume(spark, monkeypatch, tmp_path):
    """The catalog-managed (iceberg) branch: writeTo(...).using('iceberg')
    with a qualified identifier, read-back via spark.read.table (NOT the
    parquet path), doneness via catalog.tableExists (NOT _SUCCESS).
    The sandbox has no iceberg jars, so the catalog surface is faked at
    the pyspark API layer — the plan construction and resume logic under
    test are real (ADVICE r02: the old branch read stale parquet and
    never resumed)."""
    from causalre_spark.pipeline import StageIO

    store: dict[str, object] = {}     # table ident -> pandas snapshot
    calls = {"write": 0, "read": 0}
    writers: list = []

    class FakeWriterV2:
        def __init__(self, df, ident):
            self.df, self.ident = df, ident
            self.fmt, self.parts = None, None
            writers.append(self)

        def using(self, fmt):
            self.fmt = fmt
            return self

        def partitionedBy(self, col):
            self.parts = col
            return self

        def createOrReplace(self):
            assert self.fmt == "iceberg"
            calls["write"] += 1
            store[self.ident] = self.df.toPandas()

    # patch the CONCRETE runtime classes (pyspark 4 classic subclasses
    # override these; patching the pyspark.sql.DataFrame base is a no-op)
    probe = spark.range(1)
    monkeypatch.setattr(type(probe), "writeTo",
                        lambda self, ident: FakeWriterV2(self, ident))
    monkeypatch.setattr(
        type(spark.read), "table",
        lambda self, ident: (calls.__setitem__("read", calls["read"] + 1)
                             or spark.createDataFrame(store[ident])))
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, ident: ident in store)

    io = StageIO(spark, str(tmp_path), resume=True, table_namespace="graph.ns")
    df_in = spark.range(10).selectExpr("id AS cause_id", "id * 2 AS v")
    built = {"n": 0}

    def _stage():
        built["n"] += 1
        return df_in

    out = io.checkpoint("triples", _stage, table_format="iceberg")
    assert "graph.ns.triples" in store          # qualified identifier used
    assert calls["write"] == 1 and built["n"] == 1
    assert "_p" not in out.columns and out.count() == 10

    # resume: table exists in the catalog -> stage fn NOT rebuilt, no rewrite
    out2 = io.checkpoint("triples", _stage, table_format="iceberg")
    assert built["n"] == 1 and calls["write"] == 1
    assert out2.count() == 10
    # resume=False forces a rebuild
    io2 = StageIO(spark, str(tmp_path), resume=False, table_namespace="graph.ns")
    io2.checkpoint("triples", _stage, table_format="iceberg")
    assert built["n"] == 2 and calls["write"] == 2
    # one sink layout for both branches: the iceberg table is unpartitioned
    assert len(writers) == 2 and all(w.parts is None for w in writers)


def test_bucketed_graph_join_has_no_exchange(spark):
    """write_bucketed_graph: a self-join of the bucketed triples table on
    the bucket key must run WITHOUT a shuffle exchange on either side —
    the property that amortizes the write across every downstream graph
    join at scale."""
    import io as _io
    from contextlib import redirect_stdout

    from causalre_spark.pipeline import write_bucketed_graph

    triples = spark.range(200).selectExpr(
        "id % 37 AS cause_id", "concat('c', id % 37) AS cause",
        "'CAUSES' AS predicate", "id % 11 AS effect_id",
        "concat('e', id % 11) AS effect", "1 AS n_evidence",
        "cast(0.5 as float) AS max_score")
    spark.sql("DROP TABLE IF EXISTS kg_triples_test")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        t = write_bucketed_graph(spark, triples, name="kg_triples_test",
                                 buckets=8)
        assert t.count() == 200
        # A tiny test table would normally compile to a broadcast join;
        # disable that so we see the plan a 10^12-row graph table gets
        # (sort-merge over co-bucketed sides, no shuffle on either).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # evidence re-aggregation / entity-expansion shape: self-join on
        # the bucket key
        j = t.alias("x").join(t.alias("y"), "cause_id")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert j.count() > 0
        # aggregation on the bucket key: also shuffle-free
        a = t.groupBy("cause_id").count()
        buf = _io.StringIO()
        with redirect_stdout(buf):
            a.explain("formatted")
        assert "Exchange hashpartitioning" not in buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS kg_triples_test")


def test_incremental_matches_full(spark):
    """run_incremental parity contract: processing half the corpus, then
    an incremental run over the full corpus, yields triple-for-triple
    the same graph as one full run — while re-encoding ONLY the delta
    (the new run's docs sink holds just the unprocessed pages)."""
    from causalre_spark.functions.hashing import md5_long_sql_spark
    from causalre_spark.pipeline import run_incremental
    from pyspark.sql import functions as F

    wd_full = "/tmp/causalre_test_wd_incr_full"
    wd_half = "/tmp/causalre_test_wd_incr_half"
    wd_inc = "/tmp/causalre_test_wd_incr_delta"
    for wd in (wd_full, wd_half, wd_inc):
        shutil.rmtree(wd, ignore_errors=True)

    pages = synth_pages_df(spark, 40, partitions=4)
    half = pages.filter(F.expr(f"pmod({md5_long_sql_spark('url')}, 2) = 0"))

    def _full_triples(res):
        return {(r.cause, r.predicate, r.effect, r.n_evidence)
                for r in res["triples"].collect()}

    full = _full_triples(run_pipeline(spark, pages, workdir=wd_full))
    prev = run_pipeline(spark, half, workdir=wd_half)
    inc = run_incremental(spark, pages, prev_workdir=wd_half, workdir=wd_inc)
    assert _full_triples(inc) == full
    assert full, "synthetic corpus should produce triples"

    # the incremental run encoded only the delta
    n_all = spark.read.parquet(os.path.join(wd_full, "docs")).count()
    n_prev = spark.read.parquet(os.path.join(wd_half, "docs")).count()
    n_delta = spark.read.parquet(os.path.join(wd_inc, "docs")).count()
    assert n_delta == n_all - n_prev
    assert 0 < n_delta < n_all

    # and records the delta size in its lineage metrics
    metrics = spark.read.parquet(os.path.join(wd_inc, "_metrics"))
    delta_rows = [r["rows"] for r in metrics.filter("stage = '_delta'").collect()]
    assert delta_rows == [n_delta]

    # resume over the incremental workdir: identical result, delta not recomputed
    inc2 = run_incremental(spark, pages, prev_workdir=wd_half, workdir=wd_inc)
    assert _full_triples(inc2) == full

    for wd in (wd_full, wd_half, wd_inc):
        shutil.rmtree(wd, ignore_errors=True)


def test_incremental_requires_completed_prev(spark):
    import pytest as _pytest

    from causalre_spark.pipeline import run_incremental

    pages = synth_pages_df(spark, 4, partitions=1)
    with _pytest.raises(RuntimeError, match="incremental run requires"):
        run_incremental(spark, pages,
                        prev_workdir="/tmp/causalre_missing_prev_wd",
                        workdir="/tmp/causalre_test_wd_incr_err")
