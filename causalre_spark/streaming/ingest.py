"""Structured Streaming ingest: pages stream -> spans/relations sink.

The reference is pure batch (SURVEY §2.10); this is the web-scale
freshness path the north_rule's production shape implies: new WARC/page
partitions land continuously, per-document extraction is stateless, so
it streams through the SAME fused Arrow UDF as the batch pipeline —
zero logic duplication. Cross-document stages (entity linking, triple
canonicalization) run as the periodic batch bridge
(link_streamed_batch) over the streamed spans/rels sinks: connected
components is iterative-global and has no sane incremental formulation
at this granularity, so stream = per-doc freshness, scheduled bridge =
global consistency — and the bridge reuses the batch pipeline's own
linking + canonical_triples stages, so streamed-then-bridged output is
row-identical to running the batch pipeline over the same pages
(tests/test_streaming.py asserts it).

Sandbox: file-source streaming with Trigger.AvailableNow; production:
the same code against a Kafka/cloud-files source and Iceberg sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.model.udfs import DOC_EXTRACT_SCHEMA, make_doc_extract_udf
from causalre_spark.sources.corpus import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Streaming flavor of the batch docs stage — same UDF, same schema,
    plus the processing timestamp for downstream watermarking."""
    eng = pages.filter(F.col("lang") == "en")
    docs = eng.select("url", "html", F.col("text").alias("expected_text")) \
        .mapInPandas(make_doc_extract_udf(cfg), schema=DOC_EXTRACT_SCHEMA)
    return docs.withColumn("ingest_ts", F.current_timestamp())


def spans_stream(docs: DataFrame) -> DataFrame:
    return docs.select("url", "ingest_ts", F.explode("spans").alias("sp")).select(
        "url", "ingest_ts", "sp.start", "sp.end", "sp.tag_score",
        "sp.filter_score", "sp.span_type", "sp.text")


def rels_stream(docs: DataFrame) -> DataFrame:
    return docs.select("url", "ingest_ts", F.explode("rels").alias("r")).select(
        "url", "ingest_ts", "r.h_start", "r.h_end", "r.t_start", "r.t_end",
        "r.rel_score", "r.rel_type", "r.h_text", "r.t_text")


def windowed_page_counts(
    pages: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Event-time windowed aggregation with a watermark for late data:
    pages per (1-hour warc_ts window, lang). Append mode emits a window
    only once its watermark has passed — late pages within the watermark
    still land in the right window; later ones are dropped, bounded
    state either way (the 100TB requirement: state size is
    O(open windows), not O(stream))."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), "lang", "n_pages")
    )


def session_crawl_activity(
    pages: DataFrame, watermark: str = "2 hours", gap: str = "30 minutes"
) -> DataFrame:
    """Session-window aggregation: per-source crawl sessions that close
    after `gap` of event-time inactivity (F.session_window — dynamic
    windows, unlike the fixed tumbling windows above). The watermark
    bounds state: a session's state is dropped once the watermark
    passes its close. Source = the registrable domain of the url (the
    unit a crawler schedules politeness by), so a session is 'one
    crawl visit to one site'."""
    src = pages.select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("domain"),
        "warc_ts")
    return (
        src.withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("win"), "domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "domain", "n_pages")
    )


DEDUP_OUT_SCHEMA = "content_key string, url string, n_batch_dups long"
DEDUP_STATE_SCHEMA = "seen boolean"


def stateful_exact_dedup(pages: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): exact content
    dedup ACROSS micro-batches. Key = md5(text); the first arrival wins
    (min url within its batch), every later arrival — same batch or any
    future batch — is suppressed by the per-key GroupState. State is one
    boolean per distinct content key: the smallest state that implements
    cross-batch first-wins semantics."""

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            return  # content already emitted in an earlier batch
        urls = []
        for pdf in pdf_iter:
            urls.extend(pdf["url"].tolist())
        if not urls:
            return
        state.update((True,))
        yield pd.DataFrame({
            "content_key": [key[0]],
            "url": [min(urls)],
            "n_batch_dups": [len(urls) - 1],
        })

    keyed = pages.select(F.md5(F.col("text")).alias("content_key"), "url")
    return keyed.groupBy("content_key").applyInPandasWithState(
        fn, DEDUP_OUT_SCHEMA, DEDUP_STATE_SCHEMA, "append", "NoTimeout")


def run_ingest_once(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict:
    """Drain everything currently in pages_path (Trigger.AvailableNow)
    into append-mode spans/relations parquet sinks with checkpoints;
    returns the sink paths. Re-running after new files land processes
    only the new files (streaming checkpoint = the resume mechanism)."""
    docs = extract_stream(read_pages_stream(spark, pages_path), cfg)
    queries = []
    for name, df in (("spans", spans_stream(docs)), ("relations", rels_stream(docs))):
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{out_dir}/{name}")
            .option("checkpointLocation", f"{out_dir}/_checkpoints/{name}")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        queries.append(q)
    for q in queries:
        q.awaitTermination()
    return {"spans": f"{out_dir}/spans", "relations": f"{out_dir}/relations"}


def link_streamed_batch(
    spark: SparkSession, sinks: dict, cfg: PipelineConfig = DEFAULT_CONFIG
) -> dict:
    """The streaming -> batch bridge (VERDICT r02 next #9): run the
    iterative-global stages (entity linking + canonical triple
    materialization) over everything streamed into the spans/relations
    sinks so far, reusing the batch pipeline's own operators — zero
    semantic drift between the streamed and batch paths. Scheduled
    periodically in production (the linking output is a full rebuild:
    canonical ids are min-hash labels over the CURRENT component
    structure, which new mentions can merge, so incremental upsert of
    labels would be wrong — rebuild-and-swap is the correct granularity).

    Returns {'entities', 'triples'} DataFrames."""
    from causalre_spark.operators import linking
    from causalre_spark.pipeline import TRIPLE_SCHEMA, canonical_triples
    from causalre_spark.session import driver_frame

    kept = spark.read.parquet(sinks["spans"])
    rels = spark.read.parquet(sinks["relations"])
    if rels.isEmpty():
        return {
            "entities": driver_frame(spark, [], linking.ENTITY_SCHEMA),
            "triples": driver_frame(spark, [], TRIPLE_SCHEMA),
        }
    # one (text -> form) dictionary shared by linking and the canonical
    # triple join, exactly like the batch pipeline's tail. Intermediates
    # are released before return (localCheckpoint materializes triples
    # first); only `entities` is handed back persisted — caller-owned,
    # it is the bridge's other product.
    cleanup: list = []
    rawmap = linking.mention_form_map(kept.select("text")).persist()
    cleanup.append(rawmap)
    entities = linking.link_mentions(
        kept.select("text"), cfg, form_map=rawmap).persist()
    triples = canonical_triples(kept, rels, entities, cleanup=cleanup,
                                form_map=rawmap).localCheckpoint()
    for df_ in cleanup:
        df_.unpersist()
    return {"entities": entities, "triples": triples}


def curation_gate_stream(docs: DataFrame, id_col: str = "url",
                         text_col: str = "text",
                         extra_cols: tuple = ()) -> DataFrame:
    """Stateless in-stream curation gate: quality score + repetition
    dup-fraction signals + keep flag, computed as ONE chained projection
    (no join — stream-stream joins would need watermarks; projections
    compose for free). Runs on the RAW pages stream, BEFORE the
    expensive extraction UDF — at production scale dropping low-quality
    pages here saves the encoder pass, the single largest cost in the
    pipeline. `docs` is any frame with (id_col, text_col) — batch or
    streaming: the SAME function is its own batch twin, which is what
    tests/test_streaming.py asserts (stream output row-identical to the
    batch run over the same files).

    Gate: keep = n_tokens >= 10 AND quality_score >= 0.72 AND
    dup_trigram_frac <= 0.60 — the stream-safe subset of the batch
    curation_verdict thresholds (corpus-relative gates like percentile
    and cross-doc dedup are global by definition and run in the
    periodic batch bridge, like linking)."""
    from causalre_spark.functions.text import (
        CURATION_MAX_DUP_TRIGRAM, CURATION_MIN_QUALITY, CURATION_MIN_TOKENS)
    from causalre_spark.operators.textstats import (
        quality_scores, repetition_row_signals)

    r = repetition_row_signals(docs, id_col=id_col, text_col=text_col,
                               extra_cols=(text_col, *extra_cols))
    q = quality_scores(
        r, id_col=id_col, text_col=text_col,
        extra_cols=("n_words", "dup_word_frac", "dup_trigram_frac",
                    text_col, *extra_cols))
    return q.withColumn(
        "keep",
        (F.col("n_tokens") >= CURATION_MIN_TOKENS)
        & (F.col("quality_score") >= CURATION_MIN_QUALITY)
        & (F.col("dup_trigram_frac") <= CURATION_MAX_DUP_TRIGRAM),
    )


def run_curation_gate_once(spark: SparkSession, pages_path: str,
                           out_dir: str) -> str:
    """Drain pages_path through the stateless curation gate into an
    append-mode parquet sink (Trigger.AvailableNow); the checkpoint
    makes re-runs process only newly landed files."""
    pages = read_pages_stream(spark, pages_path).select("url", "text")
    gated = curation_gate_stream(pages)
    q = (
        gated.writeStream.format("parquet")
        .option("path", f"{out_dir}/curated")
        .option("checkpointLocation", f"{out_dir}/_checkpoints/curated")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return f"{out_dir}/curated"


def join_crawl_events_stream(pages: DataFrame, events: DataFrame,
                             skew: str = "1 hour") -> DataFrame:
    """Watermarked STREAM-STREAM interval join: attach crawl fetch
    events (url, fetch_ts, status) to pages (url, warc_ts) when the
    fetch landed within +-`skew` of the page's warc timestamp — the
    standard enrich-while-ingesting shape (page stream x fetch-log
    stream) that batch pipelines do with an as-of/range join.

    Scale shape: both sides carry watermarks and the join condition
    bounds event time in BOTH directions, so Spark can evict state — a
    stream-stream join without both is unbounded state growth at
    10^12-page scale. The equi-key (url) keeps the state store
    hash-partitioned and skew-free (urls are unique per crawl snapshot).
    """
    p = (pages.select("url", "warc_ts")
         .withWatermark("warc_ts", skew))
    e = (events.select(F.col("url").alias("e_url"), "fetch_ts", "status")
         .withWatermark("fetch_ts", skew))
    # the join bound is derived from the SAME skew as the watermarks —
    # a narrower watermark than the join window would evict state while
    # matches are still admissible (silent row loss), a wider one would
    # just hold state longer than the window can use
    return (
        p.join(
            e,
            F.expr(
                "url = e_url AND "
                f"fetch_ts >= warc_ts - INTERVAL {skew} AND "
                f"fetch_ts <= warc_ts + INTERVAL {skew}"),
        )
        .select("url", "warc_ts", "fetch_ts", "status")
    )
