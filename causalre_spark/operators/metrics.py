"""Evaluation operators (SURVEY §2.4 A1/A2, §2.3 J6, §2.6 U1).

strict_prf      exact-tuple TP/FP/FN via join + anti-joins
                (metrics.py:96-132; flatten evaluator.py:138-148)
loose_match     width-proportional tolerance matching, greedy
                first-match-wins 1-to-1 (metrics.py:18-92; knobs
                config.yaml:81-84: tol=0.15, width_limit=8)
evaluate_triples end-to-end triple P/R/F1 — the north_rule P/R >= 0.95
                gate computes through this

The loose matcher is order-dependent (first-match-wins), so like NMS it
runs per-document via applyInPandas with a fixed deterministic order;
the band-join candidate generation stays relational so only the tiny
per-doc candidate set crosses into Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig


def strict_prf(gold: DataFrame, pred: DataFrame, keys: list[str]) -> DataFrame:
    """Single-row (tp, fp, fn, precision, recall, f1) over exact keys.

    ONE full-outer join + ONE aggregate action (not three separate
    join/anti-join count jobs): at scale the eval inputs are scanned and
    shuffled once, and tp/fp/fn fall out of null-side markers."""
    g = gold.select(*keys).distinct().withColumn("_g", F.lit(1))
    p = pred.select(*keys).distinct().withColumn("_p", F.lit(1))
    spark = gold.sparkSession
    row = (
        g.join(p, keys, "full_outer")
        .agg(
            F.sum(F.when(F.col("_g").isNotNull() & F.col("_p").isNotNull(), 1)
                  .otherwise(0)).alias("tp"),
            F.sum(F.when(F.col("_g").isNull(), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)).alias("fn"),
        )
        .collect()[0]
    )
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-12)
    return spark.createDataFrame(
        [(tp, fp, fn, round(prec, 6), round(rec, 6), round(f1, 6))],
        "tp long, fp long, fn long, precision double, recall double, f1 double",
    )


def loose_match_spans(
    gold: DataFrame, pred: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A2: per-doc loose TP count with the reference's greedy semantics.

    gold/pred: (url, start, end). A gold span of width >= loose_width_limit
    matches the FIRST unused pred whose endpoints are both within
    round(tol * width); narrower spans require exact match. Candidates
    come from a relational band join; the greedy 1-1 assignment runs per
    doc over the (tiny) candidate list, ordered deterministically
    (gold by (start, end), preds by (|dstart|+|dend|, start, end)).
    """
    tol = cfg.loose_tol
    wlim = cfg.loose_width_limit
    g = gold.select("url", F.col("start").alias("gs"), F.col("end").alias("ge"))
    p = pred.select("url", F.col("start").alias("ps"), F.col("end").alias("pe"))
    # tolerance is UNROUNDED (reference metrics.py compares d <= tol*width
    # directly); rounding would admit e.g. delta 2 at width 10, tol 0.15
    width = F.col("ge") - F.col("gs")
    tol_w = F.when(width >= wlim, width * tol).otherwise(F.lit(0))
    cands = (
        g.join(p, "url")
        .withColumn("tol_w", tol_w)
        .filter((F.abs(F.col("gs") - F.col("ps")) <= F.col("tol_w"))
                & (F.abs(F.col("ge") - F.col("pe")) <= F.col("tol_w")))
        .select("url", "gs", "ge", "ps", "pe")
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"url": [], "loose_tp": []})
        url = pdf["url"].iloc[0]
        pdf = pdf.assign(
            d=(pdf["gs"] - pdf["ps"]).abs() + (pdf["ge"] - pdf["pe"]).abs())
        pdf = pdf.sort_values(["gs", "ge", "d", "ps", "pe"], kind="mergesort")
        used: set[tuple[int, int]] = set()
        matched: set[tuple[int, int]] = set()
        for r in pdf.itertuples(index=False):
            gkey, pkey = (r.gs, r.ge), (r.ps, r.pe)
            if gkey in matched or pkey in used:
                continue
            matched.add(gkey)
            used.add(pkey)
        return pd.DataFrame({"url": [url], "loose_tp": [len(matched)]})

    return cands.groupBy("url").applyInPandas(
        _greedy, schema="url string, loose_tp long")


def loose_match_rels(
    gold: DataFrame, pred: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG,
    make_binary: bool = False,
) -> DataFrame:
    """A2 rel variant (reference metrics.py:49-92 rel_loose_matching).

    gold/pred: (url, h_start, h_end, t_start, t_end, rel_type). A gold
    rel matches a pred iff rel_type matches (unless make_binary) AND
    either all four endpoints are exact, OR both endpoint spans are wide
    enough (width >= loose_width_limit) and each endpoint delta is
    within its own span's tolerance (tol absolute when >= 1, else
    tol * that span's width — per-span, exactly as the reference
    computes tol_h/tol_t). Greedy first-match-wins 1-to-1, per doc,
    deterministic order (gold by tuple, preds by total delta then tuple).

    Candidates come from a relational band join (url + rel_type equi-keys,
    tolerance as a WHERE clause), so only the tiny per-doc candidate set
    crosses into Python — same shape as loose_match_spans.
    """
    tol = cfg.loose_tol
    wlim = cfg.loose_width_limit
    gcols = ["h_start", "h_end", "t_start", "t_end"]
    g = gold.select("url", *[F.col(c).alias(f"g_{c}") for c in gcols],
                    F.col("rel_type").alias("g_rt"))
    p = pred.select("url", *[F.col(c).alias(f"p_{c}") for c in gcols],
                    F.col("rel_type").alias("p_rt"))
    hw = F.col("g_h_end") - F.col("g_h_start")
    tw = F.col("g_t_end") - F.col("g_t_start")
    if tol >= 1:  # reference: absolute tolerance when >= 1
        tol_h, tol_t = F.lit(tol), F.lit(tol)
    else:
        tol_h, tol_t = hw * tol, tw * tol
    d_hs = F.abs(F.col("g_h_start") - F.col("p_h_start"))
    d_he = F.abs(F.col("g_h_end") - F.col("p_h_end"))
    d_ts = F.abs(F.col("g_t_start") - F.col("p_t_start"))
    d_te = F.abs(F.col("g_t_end") - F.col("p_t_end"))
    exact = (d_hs == 0) & (d_he == 0) & (d_ts == 0) & (d_te == 0)
    loose = ((hw >= wlim) & (tw >= wlim)
             & (d_hs <= tol_h) & (d_he <= tol_h)
             & (d_ts <= tol_t) & (d_te <= tol_t))
    joined = g.join(p, "url") if make_binary else g.join(
        p, (g["url"] == p["url"]) & (g["g_rt"] == p["p_rt"])).drop(p["url"])
    cands = joined.filter(exact | loose).select(
        "url", "g_rt", "p_rt",
        *[f"g_{c}" for c in gcols], *[f"p_{c}" for c in gcols])

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"url": [], "loose_tp": []})
        url = pdf["url"].iloc[0]
        d = sum(
            (pdf[f"g_{c}"] - pdf[f"p_{c}"]).abs() for c in gcols)
        pdf = pdf.assign(d=d).sort_values(
            [f"g_{c}" for c in gcols] + ["g_rt", "d"]
            + [f"p_{c}" for c in gcols] + ["p_rt"],
            kind="mergesort")
        used: set[tuple] = set()
        matched: set[tuple] = set()
        for r in pdf.itertuples(index=False):
            gkey = (r.g_h_start, r.g_h_end, r.g_t_start, r.g_t_end, r.g_rt)
            pkey = (r.p_h_start, r.p_h_end, r.p_t_start, r.p_t_end, r.p_rt)
            if gkey in matched or pkey in used:
                continue
            matched.add(gkey)
            used.add(pkey)
        return pd.DataFrame({"url": [url], "loose_tp": [len(matched)]})

    return cands.groupBy("url").applyInPandas(
        _greedy, schema="url string, loose_tp long")


def evaluate_triples(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Triple-level P/R/F1 on canonical (cause_id, effect_id) keys —
    the north_rule acceptance metric."""
    return strict_prf(gold, pred, ["cause_id", "effect_id"])
