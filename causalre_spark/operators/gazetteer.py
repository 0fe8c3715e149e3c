"""Gazetteer extraction fitted on the reference's own train split.

VERDICT r02 "What's missing #3": the reference's trained decision
surfaces (which spans are events, which pairs relate) live in an
unportable torch checkpoint, so the repo's frozen-weight profile scores
near-zero F1 on gold (GOLD_EVAL.md). This module closes part of
that gap the *Spark-native* way: the decision surfaces are FITTED BY
DATAFRAME AGGREGATION on the train split and APPLIED BY BROADCAST JOIN
on the test split — training is a groupBy, inference is a map-join.
That is exactly how dictionary/gazetteer matching runs at 100 TB: the
fitted lexicon is a small dimension table (bounded by the train
vocabulary), candidates stream through a broadcast hash join with no
shuffle of the corpus, and every step is relational so the DuckDB
oracle can recompute fit + tag + eval end-to-end.

Model (all closed-form, deterministic):
  - span lexicon: surface form -> majority gold type with count
    (ties: type asc, width asc). Surface form uses the same slice rule
    as F1 span text (`CRE Model/predictor.py:82`).
  - candidate n-grams: every (start, width) window whose width occurs
    in the lexicon; Spark prunes start positions by a broadcast
    first-token semi-join before building strings (classic gazetteer
    prefix filter — result-identical, plan-cheaper).
  - dominance suppression: a matched span is kept iff no OVERLAPPING
    match outranks it under (width desc, cnt desc, start asc, end asc).
    One-shot relational analogue of the reference's greedy NMS
    (`model.py:637-721`) — non-recursive by design so both engines
    compute the identical rule in one anti-join.
  - rel priors: P(rel_type | head_type, tail_type) estimated from gold
    ordered span pairs; a pair of predicted spans emits the argmax
    rel_type when the type-pair's positive rate >= `rate_thd`.

Eval: strict span/rel P/R/F1 vs the gold test split through the same
A1 operator the neural profile uses (operators/metrics.strict_prf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _span_forms(split_df: DataFrame) -> DataFrame:
    """Exploded gold spans with surface form (url, start, end, type,
    width, form). Spans are 0-based end-exclusive token windows."""
    return (
        split_df.select(F.col("doc_id").cast("string").alias("url"),
                        "tokens", F.explode("spans").alias("sp"))
        .select(
            "url",
            F.col("sp.start").alias("start"),
            F.col("sp.end").alias("end"),
            F.col("sp.type").alias("type"),
            (F.col("sp.end") - F.col("sp.start")).alias("width"),
            F.concat_ws(
                " ",
                F.slice(F.col("tokens"), F.col("sp.start") + 1,
                        F.col("sp.end") - F.col("sp.start"))).alias("form"),
        )
    )


def fit_span_lexicon(split_df: DataFrame, min_count: int = 1) -> DataFrame:
    """Train-split span lexicon: (form, width, type, cnt).

    One row per surface form: the (width, type) it most often carries in
    gold, with its count. Rank rule (cnt desc, type asc, width asc) is
    total, so the fit is deterministic under any partitioning."""
    counts = (_span_forms(split_df)
              .groupBy("form", "width", "type").count()
              .withColumnRenamed("count", "cnt"))
    w = Window.partitionBy("form").orderBy(
        F.col("cnt").desc(), F.col("type").asc(), F.col("width").asc())
    return (counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1).drop("rk")
            .where(F.col("cnt") >= min_count)
            .select("form", "width", "type", "cnt"))


def tag_spans(docs: DataFrame, lexicon: DataFrame) -> DataFrame:
    """Gazetteer tagging: (url, start, end, type, cnt) on docs
    (doc_id|url, tokens).

    Scale shape: `lexicon` is a broadcast dimension (train-vocabulary
    bounded); candidates are generated only at start positions whose
    token is some lexicon form's first token (broadcast semi-join
    prune), one explode per distinct lexicon width; the match itself is
    a broadcast hash join on (form, width). The corpus never shuffles.
    """
    if "url" not in docs.columns:
        docs = docs.withColumn("url", F.col("doc_id").cast("string"))
    toks = docs.select("url", "tokens")

    widths = lexicon.select("width").distinct()
    firsts = (lexicon
              .select(F.split_part(F.col("form"), F.lit(" "), F.lit(1))
                      .alias("token"))
              .distinct())

    # start positions worth considering: token matches a lexicon prefix.
    # posexplode gives 0-based pos — exactly the span start convention.
    starts = (toks.select("url", "tokens",
                          F.posexplode("tokens").alias("start", "token"))
              .join(F.broadcast(firsts), "token", "left_semi"))

    cands = (starts
             .join(F.broadcast(widths),
                   F.col("start") + F.col("width") <= F.size("tokens"))
             .select(
                 "url", "start",
                 (F.col("start") + F.col("width")).alias("end"),
                 "width",
                 F.concat_ws(" ", F.slice(F.col("tokens"),
                                          F.col("start") + 1,
                                          F.col("width"))).alias("form")))

    matched = (cands.join(F.broadcast(lexicon), ["form", "width"])
               .select("url", "start", "end", "width", "type", "cnt"))

    # dominance suppression: drop c when an overlapping o outranks it.
    o = (matched.select(F.col("url").alias("o_url"),
                        F.col("start").alias("o_start"),
                        F.col("end").alias("o_end"),
                        F.col("width").alias("o_width"),
                        F.col("cnt").alias("o_cnt")))
    overlap = ((F.col("url") == F.col("o_url"))
               & (F.col("start") < F.col("o_end"))
               & (F.col("o_start") < F.col("end"))
               & ~((F.col("start") == F.col("o_start"))
                   & (F.col("end") == F.col("o_end"))))
    outranks = (
        (F.col("o_width") > F.col("width"))
        | ((F.col("o_width") == F.col("width"))
           & (F.col("o_cnt") > F.col("cnt")))
        | ((F.col("o_width") == F.col("width"))
           & (F.col("o_cnt") == F.col("cnt"))
           & (F.col("o_start") < F.col("start")))
    )
    return (matched.join(o, overlap & outranks, "left_anti")
            .select("url", "start", "end", "type", "cnt"))


def fit_rel_priors(split_df: DataFrame) -> DataFrame:
    """(head_type, tail_type, rel_type, rel_cnt, pair_cnt, rate):
    argmax rel_type per ordered gold-span type pair, with the pair's
    positive rate = gold rels / ordered same-doc gold span pairs."""
    spans = _span_forms(split_df).select("url", "start", "end", "type")
    h = spans.select("url", F.col("start").alias("h_start"),
                     F.col("end").alias("h_end"),
                     F.col("type").alias("head_type"))
    t = spans.select("url", F.col("start").alias("t_start"),
                     F.col("end").alias("t_end"),
                     F.col("type").alias("tail_type"))
    pairs = (h.join(t, "url")
             .where(~((F.col("h_start") == F.col("t_start"))
                      & (F.col("h_end") == F.col("t_end"))))
             .groupBy("head_type", "tail_type")
             .count().withColumnRenamed("count", "pair_cnt"))

    rels = (split_df.select("doc_id", "spans",
                            F.explode("relations").alias("r"))
            .select(
                F.expr("spans[r.head].type").alias("head_type"),
                F.expr("spans[r.tail].type").alias("tail_type"),
                F.col("r.type").alias("rel_type"))
            .groupBy("head_type", "tail_type", "rel_type")
            .count().withColumnRenamed("count", "rel_cnt"))

    w = Window.partitionBy("head_type", "tail_type").orderBy(
        F.col("rel_cnt").desc(), F.col("rel_type").asc())
    top = (rels.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") == 1).drop("rk"))
    return (top.join(pairs, ["head_type", "tail_type"])
            .withColumn("rate", F.col("rel_cnt") / F.col("pair_cnt"))
            .select("head_type", "tail_type", "rel_type",
                    "rel_cnt", "pair_cnt", "rate"))


def fit_rel_triggers(split_df: DataFrame, min_support: int = 10,
                     min_rate: float = 0.3) -> DataFrame:
    """Between-text trigger lexicon: (w, n_pairs, n_pos, rate).

    The reference corpora carry untyped 'event' spans with a single
    'causal' relation, so type-pair priors are vacuous; the learnable
    decision surface is LEXICAL — which tokens between two spans signal
    a relation (exactly the trigger-word structure the reference's
    between_window_context rel reps attend over, reference_math.py
    N10). Fit: every position-ordered disjoint gold span pair is an
    example, labeled by whether a gold rel links the two spans (either
    direction); per-token rate = P(label | token in between-text).
    Thresholds are fixed a priori, not tuned on test."""
    docs = split_df.select(F.col("doc_id").cast("string").alias("url"),
                           "tokens")
    s = _span_forms(split_df).select("url", "start", "end").distinct()
    h = s.select("url", F.col("start").alias("h_start"),
                 F.col("end").alias("h_end"))
    t = s.select("url", F.col("start").alias("t_start"),
                 F.col("end").alias("t_end"))
    pairs = h.join(t, "url").where(F.col("h_end") <= F.col("t_start"))

    rels = (split_df.select(F.col("doc_id").cast("string").alias("url"),
                            "spans", F.explode("relations").alias("r"))
            .select("url",
                    F.expr("spans[r.head].start").alias("a_st"),
                    F.expr("spans[r.head].end").alias("a_en"),
                    F.expr("spans[r.tail].start").alias("b_st"),
                    F.expr("spans[r.tail].end").alias("b_en")))
    first = F.col("a_st") <= F.col("b_st")
    und = (rels.select(
        "url",
        F.when(first, F.col("a_st")).otherwise(F.col("b_st")).alias("h_start"),
        F.when(first, F.col("a_en")).otherwise(F.col("b_en")).alias("h_end"),
        F.when(first, F.col("b_st")).otherwise(F.col("a_st")).alias("t_start"),
        F.when(first, F.col("b_en")).otherwise(F.col("a_en")).alias("t_end"))
        .distinct().withColumn("_r", F.lit(1)))

    lab = (pairs.join(
        und, ["url", "h_start", "h_end", "t_start", "t_end"], "left")
        .withColumn("label", F.when(F.col("_r").isNotNull(), 1).otherwise(0))
        .drop("_r"))
    btw = (lab.join(docs, "url")
           .select("label",
                   F.explode(F.slice(F.col("tokens"), F.col("h_end") + 1,
                                     F.col("t_start") - F.col("h_end")))
                   .alias("w")))
    stats = btw.groupBy("w").agg(F.count(F.lit(1)).alias("n_pairs"),
                                 F.sum("label").alias("n_pos"))
    return (stats
            .withColumn("rate", F.col("n_pos") / F.col("n_pairs"))
            .where((F.col("n_pairs") >= min_support)
                   & (F.col("rate") >= min_rate))
            .select("w", "n_pairs", "n_pos", "rate"))


def majority_rel_type(split_df: DataFrame) -> DataFrame:
    """One-row (rel_type): the train split's most frequent relation
    type (ties: type asc) — the emitted label for trigger-predicted
    pairs on single-relation corpora."""
    w = Window.orderBy(F.col("c").desc(), F.col("rel_type").asc())
    return (split_df.select(F.explode("relations").alias("r"))
            .groupBy(F.col("r.type").alias("rel_type"))
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1).select("rel_type"))


def predict_rels_triggers(pred_spans: DataFrame, docs: DataFrame,
                          triggers: DataFrame, rel_type: DataFrame,
                          max_gap: int = 30) -> DataFrame:
    """Trigger-fired relation prediction over gazetteer spans:
    position-ordered disjoint pairs with gap <= max_gap (the
    reference's ±30 context window, config.yaml rel window) fire when
    ANY between-token is in the trigger lexicon. Direction is
    earlier -> later. triggers and rel_type are broadcast dimensions."""
    if "url" not in docs.columns:
        docs = docs.withColumn("url", F.col("doc_id").cast("string"))
    h = pred_spans.select("url", F.col("start").alias("h_start"),
                          F.col("end").alias("h_end"))
    t = pred_spans.select("url", F.col("start").alias("t_start"),
                          F.col("end").alias("t_end"))
    cpairs = (h.join(t, "url")
              .where((F.col("h_end") <= F.col("t_start"))
                     & (F.col("t_start") - F.col("h_end") <= max_gap)))
    fired = (cpairs.join(docs.select("url", "tokens"), "url")
             .select("url", "h_start", "h_end", "t_start", "t_end",
                     F.explode(F.slice(F.col("tokens"), F.col("h_end") + 1,
                                       F.col("t_start") - F.col("h_end")))
                     .alias("w"))
             .join(F.broadcast(triggers.select("w")), "w", "left_semi")
             .select("url", "h_start", "h_end", "t_start", "t_end")
             .distinct())
    return fired.crossJoin(F.broadcast(rel_type))


def predict_rels(pred_spans: DataFrame, priors: DataFrame,
                 rate_thd: float = 0.3) -> DataFrame:
    """Ordered pairs of predicted spans -> (url, h_start, h_end,
    t_start, t_end, rel_type) where the type-pair prior clears
    `rate_thd`. Priors are a broadcast dimension (|types|² rows)."""
    h = pred_spans.select("url", F.col("start").alias("h_start"),
                          F.col("end").alias("h_end"),
                          F.col("type").alias("head_type"))
    t = pred_spans.select("url", F.col("start").alias("t_start"),
                          F.col("end").alias("t_end"),
                          F.col("type").alias("tail_type"))
    keep = priors.where(F.col("rate") >= rate_thd).select(
        "head_type", "tail_type", "rel_type")
    return (h.join(t, "url")
            .where(~((F.col("h_start") == F.col("t_start"))
                     & (F.col("h_end") == F.col("t_end"))))
            .join(F.broadcast(keep), ["head_type", "tail_type"])
            .select("url", "h_start", "h_end", "t_start", "t_end",
                    "rel_type"))
