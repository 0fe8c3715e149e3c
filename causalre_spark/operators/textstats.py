"""Text analysis operators (training-data pipeline ops): quality
scoring and Gopher-style repetition signals, the per-doc projections of
the curation verdict. Pure DataFrame algebra with portable SQL twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from causalre_spark.functions.text import NORMALIZE_SQL


# normalize(text) with a NULL text spelled '' — the DuckDB twin's
# spelling (functions.text_duck), so a NULL text yields the same single
# empty token, and the same signals, on both engines.
_NORM_SQL = f"coalesce({NORMALIZE_SQL.format(x='text')}, '')"


def quality_scores(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Per-doc quality features: token count, mean token length,
    punctuation ratio, stopword ratio, and a combined score.

    All expressions stay in whole-stage codegen (no UDFs). A pure
    projection; `extra_cols` passes additional input columns through
    unchanged (e.g. upstream signal columns when composing projections
    without a join)."""
    stop = "array('the','a','of','to','and','in','is','was')"
    # The token array is materialized once per row in its own
    # projection (the repetition_stats discipline) — the previous
    # inline spelling evaluated split(normalize(text)) in FOUR sibling
    # expressions per row; the alias is multiply-referenced and
    # non-cheap, so CollapseProject keeps it to one evaluation. Same
    # expression over the same input, so every emitted value is
    # bit-identical. Deliberately NOT spread: this is a 1:1 projection
    # (no fan-out), and an added exchange defeats count()-style column
    # pruning for consumers that never read the features.
    base = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.col("text"),
        F.expr(f"split({_NORM_SQL}, ' ')").alias("_toks"),
    )
    return base.select(
        F.col("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.expr("size(_toks)").cast("long").alias("n_tokens"),
        F.round(F.expr(
            "aggregate(_toks, 0L, (a, t) -> a + length(t)) / greatest(size(_toks), 1)"
        ), 4).alias("avg_token_len"),
        F.round(
            (F.length("text")
             - F.length(F.expr("regexp_replace(text, '[^a-zA-Z0-9 ]', '')")))
            / F.greatest(F.length("text"), F.lit(1)), 4
        ).alias("punct_ratio"),
        F.round(F.expr(
            f"size(filter(_toks, t -> array_contains({stop}, t))) / greatest(size(_toks), 1)"
        ), 4).alias("stopword_ratio"),
    ).withColumn(
        # rounded at 5dp: the composite of 4dp-rounded ratios is exact at
        # 5 decimals, so no cross-engine rounding tie can occur (a 4dp
        # round can land exactly on a 5th-decimal tie, which Spark
        # BigDecimal HALF_UP and DuckDB C round resolve differently)
        "quality_score",
        F.round(
            F.when(F.col("n_tokens") >= 10, 0.4).otherwise(0.0)
            + (1 - F.col("punct_ratio")) * 0.3
            + F.least(F.col("stopword_ratio") * 3, F.lit(1.0)) * 0.3, 5),
    )


def repetition_stats(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Gopher/MassiveText-style intra-document repetition signals
    (Rae et al. 2021, table A1 — public paper), adapted to word
    structure since the corpus text carries no line breaks:

      - dup_word_frac:    1 - |distinct words| / |words|
      - dup_trigram_frac: 1 - |distinct word 3-grams| / |3-grams|
      - top_bigram_frac:  chars covered by the most frequent word
                          2-gram / chars of the normalized text
      - keep:             Gopher-inspired fixed thresholds
                          (top_bigram_frac <= 0.20 per the paper's
                          top-2-gram rule; dup_trigram_frac <= 0.60)

    A pure projection: every signal is a per-row array expression, so
    it composes with the other per-doc projections through `extra_cols`
    (passed through unchanged) instead of a join. The top bigram is a
    fold over array_sort(bigrams): equal bigrams are adjacent, the fold
    counts each run and keeps the longest, and a tie goes to the later —
    lexicographically larger — bigram, i.e. (count desc, bigram desc),
    total-order deterministic and the DuckDB twin's tie-break. The
    fold is a higher-order function (no codegen); it costs one sort of
    the doc's bigrams.

    A NULL text tokenizes like '' (one empty token), as the DuckDB
    normalize twin coalesces NULL to ''."""
    trunc5 = "floor(({x}) * 100000) / 100000"
    # normalize runs once: its alias feeds both the split and the char
    # count, so CollapseProject keeps it in its own projection
    normed = docs.select(
        F.col("doc_id"), *[F.col(c) for c in extra_cols],
        F.expr(_NORM_SQL).alias("_norm"),
    )
    # toks is materialized as its own projection step: the alias is
    # non-cheap and multiply referenced, so CollapseProject will NOT
    # inline it — without this the n-gram lambdas would re-evaluate
    # split(normalize(text)) several times PER ELEMENT (measured:
    # +1.6 ms/page, 8x the whole ungated extract stage at the fast
    # profile).
    base = normed.select(
        "doc_id", *extra_cols,
        F.expr("split(_norm, ' ')").alias("toks"),
        F.length("_norm").alias("n_norm_chars"),
    )
    grams = base.select(
        "doc_id", *extra_cols, "n_norm_chars",
        F.expr("size(toks)").cast("long").alias("n_words"),
        F.expr("size(array_distinct(toks))").cast("long").alias("n_distinct_words"),
        # sequence(1, n) is DESCENDING when n < 1, so guard short docs
        F.expr(
            "case when size(toks) < 2 then cast(array() as array<string>) else "
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(toks[i-1], ' ', toks[i])) end"
        ).alias("bigrams"),
        F.expr(
            "case when size(toks) < 3 then cast(array() as array<string>) else "
            "transform(sequence(1, size(toks) - 2),"
            " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])) end"
        ).alias("trigrams"),
    )
    run = "if(b = acc.cur, acc.run + 1, 1L)"
    # fractions are FLOOR-truncated at 5dp (floor(x*1e5)/1e5) instead of
    # round()ed: both engines compute the same IEEE double for d/n, and
    # floor of that double is engine-independent, while round() goes
    # through Spark's BigDecimal/Double.toString path and can flip a
    # .xxxxx5 tie against DuckDB's C round (same trap quality_score's
    # 5dp comment documents — truncation removes the tie entirely).
    per_doc = grams.select(
        "doc_id", *extra_cols, "n_norm_chars", "n_words",
        F.expr(trunc5.format(
            x="1.0 - n_distinct_words / greatest(n_words, 1)"))
        .alias("dup_word_frac"),
        F.expr(trunc5.format(
            x="case when size(trigrams) = 0 then 0.0 else "
              "1.0 - size(array_distinct(trigrams)) / size(trigrams) end"))
        .alias("dup_trigram_frac"),
        F.expr(
            "aggregate(array_sort(bigrams),"
            " named_struct('cur', cast(null as string), 'run', 0L,"
            " 'bigram', cast(null as string), 'cnt', 0L),"
            f" (acc, b) -> named_struct('cur', b, 'run', {run},"
            f" 'bigram', if({run} >= acc.cnt, b, acc.bigram),"
            f" 'cnt', greatest({run}, acc.cnt)))"
        ).alias("t"),
    )
    return per_doc.select(
        "doc_id", *extra_cols, "n_words", "dup_word_frac", "dup_trigram_frac",
        F.col("t.bigram").alias("top_bigram"),
        F.when(F.col("t.bigram").isNull(), F.lit(0.0))
        .otherwise(F.expr(trunc5.format(
            x="t.cnt * length(t.bigram) / greatest(n_norm_chars, 1)")))
        .alias("top_bigram_frac"),
    ).withColumn(
        "keep",
        (F.col("top_bigram_frac") <= 0.20) & (F.col("dup_trigram_frac") <= 0.60),
    )
