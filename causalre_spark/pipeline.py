"""End-to-end pages -> triples pipeline.

Stage order mirrors the reference's inference forward pass
(model.py:728-1134), with the per-document pruning cascade fused into a
single Arrow UDF crossing (see model/udfs.py rationale) and all
cross-document work as DataFrame algebra:

  pages --(filter lang, repartition md5(url))--> fused doc-extract UDF
        --> spans / relations (explode)         [per-doc arrays -> rows]
        --> entity linking (MinHash-LSH + CC)   [relational]
        --> canonical triple aggregation        [relational]

Scale design (reasoning at 1000 executors):
  - repartition by md5(url): hot Zipf domains spread evenly because the
    unit of work is the document; residual join skew is AQE's job.
  - the fused UDF bounds per-doc output by k/k² (top-k inside), so the
    exploded spans/rels tables are ~10-100x smaller than the candidate
    sets — those never hit a shuffle.
  - linking shuffles on content-derived keys (shingles, band keys,
    component labels) — uniform by construction.
  - checkpointed stage boundaries (parquet + _SUCCESS) give resume;
    per-stage, per-partition lineage rows go to a metrics table
    (north_rule). Each sink is one unpartitioned table; reads keyed
    on cause_id go through write_bucketed_graph.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.model.udfs import DOC_EXTRACT_SCHEMA, make_doc_extract_udf
from causalre_spark.operators import linking
from causalre_spark.session import driver_frame

TRIPLE_SCHEMA = ("cause_id long, cause string, predicate string, "
                 "effect_id long, effect string, n_evidence long, max_score float")


class StageIO:
    """Checkpoint/resume + lineage for stage boundaries.

    With a workdir, each stage materializes to parquet; completed stages
    (parquet _SUCCESS present) are skipped on rerun. Without one, stages
    flow through as lazy DataFrames (tests / small corpora).
    """

    def __init__(self, spark: SparkSession, workdir: str | None, resume: bool = True,
                 table_namespace: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self.resume = resume
        self.table_namespace = table_namespace
        self.metrics: list[dict] = []

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _table_ident(self, name: str) -> str:
        """Qualified table identifier for catalog-managed sinks (iceberg):
        a bare stage name would resolve against the current database and
        collide across pipelines."""
        return f"{self.table_namespace}.{name}" if self.table_namespace else name

    def table_done(self, name: str) -> bool:
        """Doneness for catalog-managed stages = the table exists in the
        catalog (writeTo never creates a parquet _SUCCESS marker)."""
        if not self.resume:
            return False
        return bool(self.spark.catalog.tableExists(self._table_ident(name)))

    def done(self, name: str) -> bool:
        if self.workdir is None or not self.resume:
            return False
        marker = os.path.join(self._path(name), "_SUCCESS")
        # Hadoop FS API so resume works against object stores
        # (s3a://, abfs://, hdfs://) exactly like the local FS
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(marker)
            fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            return bool(fs.exists(hpath))
        except Exception:  # pragma: no cover — non-JVM fallback
            return os.path.exists(marker)

    def checkpoint(self, name: str, df_fn, table_format: str = "parquet") -> DataFrame:
        """Materialize a stage boundary; skip if already done (resume).

        Every sink is one unpartitioned table whose files AQE sizes to
        the data.

        table_format 'iceberg' maps to df.writeTo(...) on a cluster with
        an Iceberg catalog; this sandbox has no catalog jars, so the
        parquet path carries the same physical layout.
        """
        if self.workdir is None:
            return df_fn()
        if table_format == "iceberg":
            # catalog-managed branch: write via DataFrameWriterV2, read
            # back via the catalog (NOT the parquet path — writeTo never
            # writes there), and detect doneness via tableExists (writeTo
            # never creates a _SUCCESS marker).
            ident = self._table_ident(name)
            if not self.table_done(name):
                df_fn().writeTo(ident).using("iceberg").createOrReplace()
            out = self.spark.read.table(ident)
            self._lineage(name, out)
            return out
        path = self._path(name)
        reader = self.spark.read
        if not self.done(name):
            df = df_fn()
            df.write.mode("overwrite").parquet(path)
            # read back with the schema just written: parquet schema
            # inference is a footer-reading job of its own. A resumed
            # stage still infers.
            reader = reader.schema(df.schema)
        out = reader.parquet(path)
        self._lineage(name, out)
        return out

    def _lineage(self, name: str, df: DataFrame) -> None:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        for r in rows:
            self.metrics.append(
                {"stage": name, "partition": int(r["partition"]), "rows": int(r["rows"])}
            )

    def write_metrics(self) -> None:
        if self.workdir is None or not self.metrics:
            return
        (
            driver_frame(
                self.spark,
                [(m["stage"], m["partition"], m["rows"]) for m in self.metrics],
                "stage string, partition int, rows long",
            )
            .coalesce(1)  # a few dozen rows: one file, not one per core
            .write.mode("overwrite")
            .parquet(self._path("_metrics"))
        )


def canonical_triples(kept: DataFrame, rels: DataFrame, entities: DataFrame,
                      cleanup: list | None = None,
                      form_map: DataFrame | None = None) -> DataFrame:
    """(kept spans, relations, entities) -> deduped canonical triples.

    One broadcast dictionary: DISTINCT raw mention surface
    -> (canonical_id, canonical_form); the relation stream joins it
    map-side twice (head/tail) and never shuffles or re-normalizes.
    The dictionary is persisted (two broadcast consumers); the handle is
    appended to `cleanup` for release after the caller's terminal action.

    form_map: optional pre-built (text -> form) dictionary shared with
    link_mentions (see _link_and_materialize) — skips a second full
    distinct+normalize pass over the mention table.
    """
    if form_map is None:
        form_map = linking.mention_form_map(kept.select("text"))
    canon_map = (
        form_map
        .join(entities, "form")
        .select("text", "canonical_id", "canonical_form")
        .persist()
    )
    if cleanup is not None:
        cleanup.append(canon_map)
    joined = (
        rels.join(
            F.broadcast(canon_map.withColumnRenamed("text", "h_text")
                        .withColumnRenamed("canonical_id", "cause_id")
                        .withColumnRenamed("canonical_form", "cause")),
            "h_text",
        )
        .join(
            F.broadcast(canon_map.withColumnRenamed("text", "t_text")
                        .withColumnRenamed("canonical_id", "effect_id")
                        .withColumnRenamed("canonical_form", "effect")),
            "t_text",
        )
        .filter(F.col("cause_id") != F.col("effect_id"))
    )
    # A8 at corpus scale: canonical triple dedup + evidence agg.
    # predicate derives from the N12 multilabel rel type ('causal' ->
    # 'CAUSES'; any other schema type -> its uppercase name)
    predicate = F.when(F.col("rel_type") == "causal", "CAUSES") \
        .otherwise(F.upper("rel_type"))
    return (
        joined.withColumn("predicate", predicate)
        .groupBy("cause_id", "cause", "predicate", "effect_id", "effect")
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.max("rel_score").alias("max_score"),
        )
        .select(
            "cause_id", "cause", "predicate",
            "effect_id", "effect", "n_evidence", "max_score",
        )
    )


def write_bucketed_graph(spark: SparkSession, triples: DataFrame,
                         name: str = "kg_triples", buckets: int = 64,
                         ) -> DataFrame:
    """S5 at READ time: persist the graph table BUCKETED by cause_id
    (hash-bucketed files + per-file sort by (cause_id, effect_id)).

    The checkpoint sink is one unpartitioned table with no key layout;
    this is the cause_id-keyed read path: every downstream equi-join
    or aggregation on cause_id — graph self-joins (2-hop paths),
    entity-expansion joins, evidence re-aggregation — reads both sides
    already co-partitioned, so Spark elides the shuffle exchange entirely
    (tests assert the plan). At 10^12 triples the repeated exchange of
    the graph table is the cost that dominates iterative graph
    workloads; paying one bucketed write amortizes it across every
    subsequent join. Bucket count is a data-volume knob: 64 here,
    thousands on a real cluster.

    Uses saveAsTable (bucket metadata lives in the catalog — plain
    .parquet() files cannot carry it); same API against Iceberg, which
    stores the equivalent as a bucket partition transform."""
    (triples.write.mode("overwrite").format("parquet")
     .bucketBy(buckets, "cause_id").sortBy("cause_id", "effect_id")
     .saveAsTable(name))
    return spark.table(name)


def extract_docs(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-document extraction stage (the expensive Arrow-UDF crossing),
    shared by the full and incremental pipelines."""
    eng = pages.filter(F.col("lang") == "en")
    return eng.select("url", "html", F.col("text").alias("expected_text")) \
        .mapInPandas(make_doc_extract_udf(cfg), schema=DOC_EXTRACT_SCHEMA)


def explode_spans(docs: DataFrame) -> DataFrame:
    return docs.select("url", F.explode("spans").alias("sp")).select(
        "url", "sp.start", "sp.end", "sp.tag_score", "sp.filter_score",
        "sp.span_type", "sp.text")


def explode_rels(docs: DataFrame) -> DataFrame:
    return docs.select("url", F.explode("rels").alias("r")).select(
        "url", "r.h_start", "r.h_end", "r.t_start", "r.t_end",
        "r.rel_score", "r.rel_type", "r.h_text", "r.t_text")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    workdir: str | None = None,
    resume: bool = True,
    verify_extraction: bool = True,
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline; returns {'docs','spans','relations','entities','triples'}.

    With `timings`, the doc-extraction stage is materialized eagerly and
    its wall time recorded under 'docs_secs' (bench decomposition)."""
    import time as _time

    io = StageIO(spark, workdir, resume,
                 table_namespace=cfg.extra.get("table_namespace"))

    docs = io.checkpoint("docs", lambda: extract_docs(pages, cfg))
    if verify_extraction:
        bad = docs.filter(~F.col("text_ok")).count()
        if bad:
            raise AssertionError(f"extraction not byte-identical for {bad} pages")
    docs = docs.persist()
    if timings is not None:
        _t0 = _time.time()
        timings["n_docs"] = docs.count()
        timings["docs_secs"] = round(_time.time() - _t0, 2)

    kept = io.checkpoint("spans", lambda: explode_spans(docs)).persist()
    rels = io.checkpoint("relations", lambda: explode_rels(docs)).persist()
    if timings is not None:
        # materialize the explodes eagerly so the tail decomposes into
        # attributable stages (spans/rels vs linking vs triples) instead
        # of lazy work landing wherever the first action happens to be
        _t0 = _time.time()
        kept.count(); rels.count()
        timings["explode_secs"] = round(_time.time() - _t0, 2)
        _t0 = _time.time()

    entities, triples = _link_and_materialize(spark, io, kept, rels, cfg, workdir)
    if timings is not None:
        entities.count()
        timings["linking_secs"] = round(_time.time() - _t0, 2)
    io.write_metrics()
    return {
        "docs": docs,
        "spans": kept,
        "relations": rels,
        "entities": entities,
        "triples": triples,
    }


def _link_and_materialize(spark, io: StageIO, kept: DataFrame, rels: DataFrame,
                          cfg: PipelineConfig, workdir: str | None,
                          ) -> tuple[DataFrame, DataFrame]:
    """Global tail shared by run_pipeline and run_incremental: entity
    linking over all kept mention surfaces + canonical triple
    materialization (S5 sink: one unpartitioned table).

    early-exit: no extracted relations -> no triples, so the whole
    linking/canonicalization stage graph (LSH + jaccard verify + CC +
    canonical joins — most of the wall-clock on trigger-free corpora)
    is provably unnecessary. The empty answer is still oracle-gated:
    tests/test_pipeline_parity.py asserts exact (possibly empty)
    triple-set equality vs the single-process oracle on driver testdata.
    """
    if rels.isEmpty():
        entities = io.checkpoint("entities", lambda: driver_frame(
            spark, [], linking.ENTITY_SCHEMA))
        triples = io.checkpoint("triples", lambda: driver_frame(
            spark, [], TRIPLE_SCHEMA))
        return entities, triples

    _stage_caches: list[DataFrame] = []

    # the (raw mention text -> normalized form) dictionary is the ONE
    # full pass over the distinct mention surfaces; build it once and
    # share it between linking (which only needs the form column) and
    # the canonical triple join (which keys raw text to canonical ids).
    # Without sharing, each stage re-runs the distinct + normalization —
    # the most expensive relational scan of the tail, paid twice.
    rawmap = linking.mention_form_map(kept.select("text")).persist()
    _stage_caches.append(rawmap)

    # persisted: consumed twice (cause-side and effect-side broadcasts)
    entities = io.checkpoint(
        "entities", lambda: linking.link_mentions(
            kept.select("text"), cfg, form_map=rawmap)
    ).persist()

    triples = io.checkpoint(
        "triples",
        lambda: canonical_triples(kept, rels, entities, cleanup=_stage_caches,
                                  form_map=rawmap),
        table_format=cfg.table_format)
    if workdir is not None:
        # triples materialized to the sink -> the broadcast dictionary's
        # cache is dead weight; release it (sweep sessions run many
        # pipelines and must not accumulate cached blocks)
        for df_ in _stage_caches:
            df_.unpersist()
    return entities, triples


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    prev_workdir: str,
    workdir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    resume: bool = True,
    verify_extraction: bool = True,
) -> dict[str, DataFrame]:
    """Incremental (delta) pipeline run over a Common-Crawl-style corpus
    that grows by appends: re-encode ONLY pages whose url is absent from
    a previous run's docs sink, then rebuild the global stages over
    previous ∪ delta per-document outputs.

    Scale rationale: the per-document encoder UDF dominates pipeline
    wall-clock (~80% in the historical stage decomposition), and a
    web corpus arrives as monthly crawl deltas — re-encoding 10^12
    already-processed pages to absorb a 10^10-page delta is the
    difference between an overnight job and an impossible one. The
    anti-join against the processed-url set is a shuffle on the url key
    (uniform; no skew), and at production scale maps onto an Iceberg
    MERGE/snapshot-diff over the docs table.

    Entity canonicalization is deliberately NOT incremental: canonical
    ids are min-ids over MinHash-LSH + connected-component clusters, and
    one new mention can merge two existing clusters — patching cluster
    ids in place cannot match a from-scratch run. Re-linking reads only
    the (tiny, already-extracted) mention-surface table, never the html.
    tests/test_resume.py asserts the parity contract:
    incremental(half1 -> +half2) == full(all), triple for triple.

    Returns the same dict as run_pipeline; per-doc sinks for THIS run
    hold only the delta ('docs'/'spans'/'relations' are the unions).
    """
    prev = StageIO(spark, prev_workdir, resume=True,
                   table_namespace=cfg.extra.get("table_namespace"))
    for stage in ("docs", "spans", "relations"):
        if not prev.done(stage):
            raise RuntimeError(
                f"incremental run requires completed stage {stage!r} in "
                f"{prev_workdir} (run run_pipeline there first)")
    prev_docs = spark.read.parquet(prev._path("docs"))
    prev_spans = spark.read.parquet(prev._path("spans"))
    prev_rels = spark.read.parquet(prev._path("relations"))

    io = StageIO(spark, workdir, resume,
                 table_namespace=cfg.extra.get("table_namespace"))

    def _delta_docs() -> DataFrame:
        fresh = pages.join(prev_docs.select("url"), "url", "left_anti")
        return extract_docs(fresh, cfg)

    delta_docs = io.checkpoint("docs", _delta_docs)
    if verify_extraction:
        bad = delta_docs.filter(~F.col("text_ok")).count()
        if bad:
            raise AssertionError(f"extraction not byte-identical for {bad} pages")
    delta_docs = delta_docs.persist()

    delta_spans = io.checkpoint("spans", lambda: explode_spans(delta_docs))
    delta_rels = io.checkpoint("relations", lambda: explode_rels(delta_docs))

    docs = prev_docs.unionByName(delta_docs)
    kept = prev_spans.unionByName(delta_spans).persist()
    rels = prev_rels.unionByName(delta_rels).persist()

    entities, triples = _link_and_materialize(spark, io, kept, rels, cfg, workdir)
    # the delta size is the docs sink's lineage, already collected
    io.metrics.append({"stage": "_delta", "partition": -1,
                       "rows": sum(m["rows"] for m in io.metrics
                                   if m["stage"] == "docs")})
    io.write_metrics()
    return {
        "docs": docs,
        "spans": kept,
        "relations": rels,
        "entities": entities,
        "triples": triples,
    }
