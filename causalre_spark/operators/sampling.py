"""Corpus sampling and skew-profiling operators (training-data
pipeline ops): exact-quota stratified sampling and hot-group skew
statistics. Pure DataFrame algebra with exact DuckDB oracle twins.

Reproducibility contract (same as q_sample_hash): every selection is
keyed on md5 of stable row identity — no RNG state, no rand() — so the
same rows come back on every engine, every partitioning, every rerun.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from causalre_spark.functions.hashing import md5_long_sql_spark
from causalre_spark.functions.text import NORMALIZE_SQL


def stratified_sample(df: DataFrame, group_col: str, quota: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Exact per-group quota sample: for each group, the `quota` rows
    with the smallest md5(id) — a deterministic uniform draw (md5 is a
    pseudo-random permutation of the id space) with an EXACT group size,
    which Bernoulli sampling cannot give.

    Returns (id, group, samp_rank) with samp_rank in 1..quota.

    Scale shape: one shuffle on group_col; the row_number window is
    WindowGroupLimit-optimized by Catalyst (rank <= k predicates push a
    per-partition top-k below the exchange, so only ~quota rows per
    group per input partition reach the shuffle — the same bounded-sort
    physical shape as top-k spans). Group-count skew (one giant 'en'
    group at web scale) is bounded by that pre-limit: every map task
    emits at most `quota` rows per group regardless of input size.
    """
    key = F.expr(md5_long_sql_spark(f"cast({id_col} as string)"))
    return (
        df.select(F.col(id_col), F.col(group_col), key.alias("_skey"))
        .withColumn("samp_rank", F.row_number().over(
            Window.partitionBy(group_col).orderBy(
                F.col("_skey").asc(), F.col(id_col).asc())))
        .filter(F.col("samp_rank") <= quota)
        .select(id_col, group_col, F.col("samp_rank").cast("long").alias("samp_rank"))
    )


def group_skew_stats(df: DataFrame, group_col: str,
                     n_target_partitions: int = 20) -> DataFrame:
    """Hot-group skew profile — the measurement that DRIVES salted
    repartitioning (north_rule: "skew from hot domains handled with
    salted repartitioning"): per group, its row count, corpus share,
    whether it is hot (share > 2x the uniform share), and the salt
    factor a two-phase salted aggregation should use so no salted
    sub-group exceeds ~1/n_target_partitions of the corpus.

    Scale shape: ONE partial hash aggregation over the corpus produces
    the per-group counts; everything after runs on the tiny aggregated
    frame (n_groups rows), where the unpartitioned totals window is a
    deliberate single-partition op over kilobytes, not data.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy()  # totals over the n_groups-row aggregate
    return (
        counts
        .withColumn("_total", F.sum("n_rows").over(w))
        .withColumn("_ngroups", F.count(F.lit(1)).over(w))
        .select(
            group_col,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 4).alias("share"),
            (F.col("n_rows") * F.col("_ngroups") > 2 * F.col("_total"))
            .alias("is_hot"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n_rows") * n_target_partitions / F.col("_total")),
            ).cast("long").alias("salt_factor"),
        )
    )


def dsir_log_weights(source_tokens: DataFrame, target_tokens: DataFrame,
                     n_buckets: int = 64, alpha: float = 1.0) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every source
    document by how target-like its hashed-unigram distribution is,
    log w(doc) = sum_tokens ln(p_target(bucket) / p_source(bucket)),
    with Laplace-smoothed bucket models fitted on the two corpora. The
    weights feed importance resampling of a raw crawl toward a clean
    target (the paper's use) — the selection op between quality
    filtering and training.

    Inputs are (id, tok) frames WITH multiplicity (token occurrences,
    not distinct sets). Output: (doc_id, n_toks, log_weight[4dp]).

    Scale shape: both bucket models are single partial hash aggs that
    reduce to `n_buckets` rows — effectively free next to the scan. The
    per-doc pass aggregates (id, bucket) counts, broadcast-joins the
    tiny model (n_buckets rows), and re-aggregates per doc: the corpus
    is shuffled once, on the doc id, which AQE coalesces with the final
    aggregate. Nothing Python; ln() stays in codegen. 4dp rounding
    absorbs float-summation-order and last-ulp libm differences across
    engines (same policy as mixing_weights).
    """
    spark = source_tokens.sparkSession
    bexpr = (F.expr(md5_long_sql_spark("tok")) % n_buckets).alias("b")
    src_b = source_tokens.select("id", bexpr)
    tgt_b = target_tokens.select(bexpr)

    all_b = spark.range(n_buckets).select(F.col("id").cast("long").alias("b"))
    c_s = src_b.groupBy("b").agg(F.count(F.lit(1)).alias("c_s"))
    c_t = tgt_b.groupBy("b").agg(F.count(F.lit(1)).alias("c_t"))
    model = (
        all_b.join(c_s, "b", "left").join(c_t, "b", "left")
        .select(
            "b",
            F.coalesce("c_s", F.lit(0)).alias("c_s"),
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
        )
        .withColumn("_ts", F.sum("c_s").over(Window.partitionBy()))
        .withColumn("_tt", F.sum("c_t").over(Window.partitionBy()))
        .select(
            "b",
            (F.log((F.col("c_t") + alpha) / (F.col("_tt") + alpha * n_buckets))
             - F.log((F.col("c_s") + alpha) / (F.col("_ts") + alpha * n_buckets))
             ).alias("log_ratio"),
        )
    )
    per_bucket = src_b.groupBy("id", "b").agg(F.count(F.lit(1)).alias("n_b"))
    return (
        per_bucket.join(F.broadcast(model), "b")
        .groupBy("id")
        .agg(
            F.sum("n_b").alias("n_toks"),
            F.round(F.sum(F.col("n_b") * F.col("log_ratio")), 4)
            .alias("log_weight"),
        )
        .select(F.col("id").alias("doc_id"), "n_toks", "log_weight")
    )


def mixing_weights(df: DataFrame, group_col: str,
                   alpha: float = 0.7) -> DataFrame:
    """Temperature-based corpus mixing weights (the multilingual
    sampling rule of XLM-R / mT5: p_i proportional to n_i^alpha,
    alpha < 1 upweights low-resource groups): per group, the raw share,
    the temperature-adjusted sampling probability, and the boost factor
    a data loader applies when drawing training batches.

    Scale shape: one partial hash aggregation reduces the corpus to
    n_groups rows; the normalization windows run on that tiny frame
    (single-partition by design — kilobytes). 4dp rounding absorbs
    float pow/summation-order differences across engines.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    return (
        counts
        .withColumn("_pw", F.pow(F.col("n_docs"), F.lit(alpha)))
        .withColumn("_total", F.sum("n_docs").over(w))
        .withColumn("_pwsum", F.sum("_pw").over(w))
        .select(
            group_col,
            "n_docs",
            F.round(F.col("n_docs") / F.col("_total"), 4).alias("p_raw"),
            F.round(F.col("_pw") / F.col("_pwsum"), 4).alias("p_temp"),
            F.round((F.col("_pw") / F.col("_pwsum"))
                    / (F.col("n_docs") / F.col("_total")), 4).alias("boost"),
        )
    )


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   n_shards: int = 64, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """GPT-style contiguous sequence packing: lay the corpus out as one
    token stream and cut it every `seq_len` tokens — the step between
    chunking/tokenization and writing pretraining examples (documents
    straddling a cut are split across two training sequences; the
    `straddle` flag marks them).

    Scale shape: a single GLOBAL running sum is the textbook
    prefix-scan bottleneck, so the stream is sharded first on the
    portable md5 of the doc id (`n_shards` independent token streams —
    the real layout of a 10^12-doc corpus, one stream per output file
    group). Within a shard the running offset is a window sum over the
    deterministic (id) order: ONE shuffle on the uniform shard key;
    every shard's window sorts independently in parallel. Output is one
    row per document: its shard, token count, start/end offsets in the
    shard stream, the pack (training sequence) id of its first token,
    and whether it straddles a pack boundary.
    """
    toks = f"split({NORMALIZE_SQL.format(x=text_col)}, ' ')"
    base = docs.select(
        F.col(id_col),
        F.expr(f"pmod({md5_long_sql_spark(f'cast({id_col} as string)')}, "
               f"{n_shards})").cast("long").alias("shard"),
        F.expr(f"size({toks})").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    with_off = base.withColumn(
        "end_off", F.sum("n_tokens").over(w)
    ).withColumn("start_off", (F.col("end_off") - F.col("n_tokens")))
    return with_off.select(
        id_col, "shard", "n_tokens", "start_off", "end_off",
        (F.col("start_off") / seq_len).cast("long").alias("pack_id"),
        ((F.col("start_off") / seq_len).cast("long")
         != ((F.col("end_off") - 1) / seq_len).cast("long"))
        .alias("straddle"),
    )
