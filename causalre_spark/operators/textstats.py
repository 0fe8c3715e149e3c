"""Text analysis operators (training-data pipeline ops): quality
scoring and Gopher-style repetition signals, fingerprinting, a
percentile quality gate, bigram LM perplexity, token-window chunking,
fitted language ID and PII scrubbing. Pure DataFrame algebra with
portable SQL twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from causalre_spark.functions.hashing import md5_long_sql_spark
from causalre_spark.functions.partitions import spread
from causalre_spark.functions.text import NORMALIZE_SQL


def _norm_sql(text_col: str) -> str:
    """normalize(text) with a NULL text spelled '' — the DuckDB twin's
    spelling (functions.text_duck), so a NULL text yields the same
    single empty token, and the same signals, on both engines."""
    return f"coalesce({NORMALIZE_SQL.format(x=text_col)}, '')"


def quality_scores(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   extra_cols: tuple = ()) -> DataFrame:
    """Per-doc quality features: token count, mean token length,
    punctuation ratio, stopword ratio, and a combined score.

    All expressions stay in whole-stage codegen (no UDFs). A pure
    projection, so it applies unchanged to a STREAMING frame
    (streaming.curation_gate_stream); `extra_cols` passes additional
    input columns through unchanged (e.g. upstream signal columns when
    composing projections without a join)."""
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
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(text_col),
        F.expr(f"split({_norm_sql(text_col)}, ' ')").alias("_toks"),
    )
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.expr("size(_toks)").cast("long").alias("n_tokens"),
        F.round(F.expr(
            "aggregate(_toks, 0L, (a, t) -> a + length(t)) / greatest(size(_toks), 1)"
        ), 4).alias("avg_token_len"),
        F.round(
            (F.length(text_col)
             - F.length(F.expr(f"regexp_replace({text_col}, '[^a-zA-Z0-9 ]', '')")))
            / F.greatest(F.length(text_col), F.lit(1)), 4
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


def fingerprints(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5_long over the sorted
    distinct normalized tokens (functions.text.fingerprint twin)."""
    joined = (
        f"array_join(array_sort(array_distinct(split("
        f"{NORMALIZE_SQL.format(x=text_col)}, ' '))), ' ')"
    )
    return docs.select(
        F.col(id_col),
        F.expr(md5_long_sql_spark(joined)).alias("fingerprint"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     extra_cols: tuple = ()) -> DataFrame:
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
    it applies unchanged to a streaming frame and composes with the
    other per-doc projections through `extra_cols` (passed through
    unchanged) instead of a join. The top bigram is a fold over
    array_sort(bigrams): equal bigrams are adjacent, the fold counts
    each run and keeps the longest, and a tie goes to the later —
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
        F.col(id_col), *[F.col(c) for c in extra_cols],
        F.expr(_norm_sql(text_col)).alias("_norm"),
    )
    # toks is materialized as its own projection step: the alias is
    # non-cheap and multiply referenced, so CollapseProject will NOT
    # inline it — without this the n-gram lambdas would re-evaluate
    # split(normalize(text)) several times PER ELEMENT (measured:
    # +1.6 ms/page, 8x the whole ungated extract stage at the fast
    # profile).
    base = normed.select(
        id_col, *extra_cols,
        F.expr("split(_norm, ' ')").alias("toks"),
        F.length("_norm").alias("n_norm_chars"),
    )
    grams = base.select(
        id_col, *extra_cols, "n_norm_chars",
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
        id_col, *extra_cols, "n_norm_chars", "n_words",
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
        id_col, *extra_cols, "n_words", "dup_word_frac", "dup_trigram_frac",
        F.col("t.bigram").alias("top_bigram"),
        F.when(F.col("t.bigram").isNull(), F.lit(0.0))
        .otherwise(F.expr(trunc5.format(
            x="t.cnt * length(t.bigram) / greatest(n_norm_chars, 1)")))
        .alias("top_bigram_frac"),
    ).withColumn(
        "keep",
        (F.col("top_bigram_frac") <= 0.20) & (F.col("dup_trigram_frac") <= 0.60),
    )


def repetition_row_signals(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           extra_cols: tuple = ()) -> DataFrame:
    """The streaming gate's subset of repetition_stats: n_words,
    dup_word_frac and dup_trigram_frac, the same values from the same
    projection. Column pruning drops the top-bigram sort and fold,
    which the gate (streaming.curation_gate_stream) does not read."""
    return repetition_stats(docs, id_col, text_col, extra_cols).select(
        id_col, *extra_cols, "n_words", "dup_word_frac", "dup_trigram_frac")


def quality_percentile_gate(docs: DataFrame, lo: float = 0.1,
                            hi: float = 0.9) -> DataFrame:
    """Per-language percentile gating of the quality score — the
    corpus-relative variant of fixed-threshold filtering every LLM
    data pipeline runs (keep the [p10, p90] band per language so one
    language's score distribution does not set another's bar).

    This oracle-checked variant uses EXACT interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont`) so the filter
    algebra is verifiable cross-engine; at 100 TB the thresholds come
    from `approx_percentile` over the same aggregation shape (one
    pass, mergeable sketch) and everything downstream is identical.
    The per-lang threshold table is a broadcast dimension.
    """
    q = quality_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id")
    # floor-truncated at 6dp (not round) — same cross-engine tie
    # rationale as repetition_stats; both engines linear-interpolate
    # (n-1)*p over identical doubles, so the raw percentile is bitwise
    # equal and the truncation is engine-independent.
    thr = (q.groupBy("lang")
           .agg(F.expr(f"floor(percentile(quality_score, {lo}d) * 1e6) / 1e6")
                .alias("p_lo"),
                F.expr(f"floor(percentile(quality_score, {hi}d) * 1e6) / 1e6")
                .alias("p_hi"),
                F.count(F.lit(1)).alias("n_docs")))
    kept = (q.join(F.broadcast(thr), "lang")
            .where(F.col("quality_score").between(F.col("p_lo"), F.col("p_hi")))
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")))
    return (thr.join(kept, "lang", "left")
            .select("lang", "n_docs", "p_lo", "p_hi",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept")))


def _bigram_buckets(docs: DataFrame, id_col: str, text_col: str,
                    n_ctx_buckets: int, n_bigram_buckets: int) -> DataFrame:
    """(id, text) -> exploded (id, b_ctx, b_big) hashed bigram rows.

    Bigrams are built per row with array HOFs (whole-stage codegen, no
    window/shuffle): position 1 pairs the sentence-start sentinel '<s>'
    with the first token, position i pairs toks[i-1] with toks[i]. Both
    bucket ids derive from the portable md5 hash so the DuckDB oracle
    and the Spark plan agree bit-for-bit.
    """
    norm = NORMALIZE_SQL.format(x=text_col)
    base = spread(docs).select(
        F.col(id_col).alias("id"),
        F.expr(f"split({norm}, ' ')").alias("toks"),
    )
    bg = base.select(
        "id",
        F.explode(F.expr(
            "transform(sequence(1, size(toks)), i -> struct("
            "  case when i = 1 then '<s>' else toks[i-2] end as prev,"
            "  toks[i-1] as tok))"
        )).alias("g"),
    ).select(
        "id",
        F.expr(md5_long_sql_spark("g.prev")).alias("_hc"),
        F.expr(md5_long_sql_spark("concat(g.prev, ' ', g.tok)")).alias("_hb"),
    )
    return bg.select(
        "id",
        (F.col("_hc") % n_ctx_buckets).alias("b_ctx"),
        (F.col("_hb") % n_bigram_buckets).alias("b_big"),
    )


def lm_perplexity(score_docs: DataFrame, train_docs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n_ctx_buckets: int = 256, n_bigram_buckets: int = 4096,
                  alpha: float = 0.5) -> DataFrame:
    """CCNet-style language-model perplexity filtering (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — public paper): score every corpus document by the
    perplexity of a bigram LM fitted on a clean in-domain split, keep
    the low-perplexity head. The classic third leg of web curation next
    to rule-based quality gates and dedup; CCNet uses a KenLM 5-gram —
    here the LM is a hashed-bigram model with Laplace smoothing so the
    whole thing stays engine-portable and relational.

      log P(tok_i | tok_{i-1}) = ln( (c_bigram + a) / (c_ctx + a*B) )
      ppl(doc) = exp( -avg_i log P )

    with c_* counted in `n_bigram_buckets` / `n_ctx_buckets` hashed
    buckets on the training split (feature-hashing trick, same as
    sampling.dsir_log_weights' unigram models).

    Scale shape: bigram generation is a per-row HOF projection (no
    window, no shuffle); the two count models reduce to B+C rows
    (partial hash aggs) and broadcast back; the only corpus-wide
    shuffle is the final per-doc aggregation on the uniform doc id.
    Output: (doc_id, n_bigrams, avg_logp[4dp], ppl[4dp]) — 4dp rounding
    absorbs float-summation-order differences across engines (same
    policy as dsir_log_weights).
    """
    train = _bigram_buckets(train_docs, id_col, text_col,
                            n_ctx_buckets, n_bigram_buckets)
    corpus = _bigram_buckets(score_docs, id_col, text_col,
                             n_ctx_buckets, n_bigram_buckets)
    c_big = train.groupBy("b_big").agg(F.count(F.lit(1)).alias("c_big"))
    c_ctx = train.groupBy("b_ctx").agg(F.count(F.lit(1)).alias("c_ctx"))
    scored = (
        corpus
        .join(F.broadcast(c_big), "b_big", "left")
        .join(F.broadcast(c_ctx), "b_ctx", "left")
        .select(
            "id",
            F.log(
                (F.coalesce("c_big", F.lit(0)) + F.lit(alpha))
                / (F.coalesce("c_ctx", F.lit(0))
                   + F.lit(alpha * n_bigram_buckets))
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")), 4).alias("ppl"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logp", "ppl")
    )


def chunk_documents(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 64,
                    stride: int = 48) -> DataFrame:
    """Overlapping token-window chunking — the doc -> training-sample /
    RAG-passage splitter every LLM data pipeline runs between curation
    and tokenization (fixed window `size`, stride `stride` < size for
    overlap, final partial window kept).

    Scale shape: MAP-ONLY. Chunk starts come from sequence(0, n-1,
    stride) and the chunk text from slice() on the per-row token array
    — no shuffle, no window function, no UDF; chunking 10^12 docs is
    exactly one pass over the scan with predicate/column pruning
    intact. chunk_uid is the portable md5 of (doc_id, chunk_idx) so
    downstream dedup/shuffle keys are uniform by construction.
    """
    norm = NORMALIZE_SQL.format(x=text_col)
    base = docs.select(
        F.col(id_col),
        F.expr(f"split({norm}, ' ')").alias("toks"),
    )
    # a start is kept only while the PREVIOUS window has not already
    # reached the document end (s = 0 or s < n - size + stride):
    # without the filter, any doc with n mod stride in 1..(size-stride)
    # emits a final chunk that is a strict suffix of the previous one —
    # duplicated training text from the very pipeline meant to dedup it
    chunks = base.select(
        id_col,
        F.expr("size(toks)").cast("long").alias("n_doc_tokens"),
        F.posexplode(F.expr(
            f"transform("
            f"  filter(sequence(0, greatest(size(toks) - 1, 0), {stride}),"
            f"         s -> s = 0 OR s < size(toks) - {size} + {stride}),"
            f" s -> array_join(slice(toks, s + 1, {size}), ' '))"
        )).alias("chunk_idx", "chunk_text"),
    )
    return chunks.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("start_tok"),
        F.least(F.lit(size),
                F.col("n_doc_tokens") - F.col("chunk_idx") * stride)
        .cast("long").alias("n_chunk_tokens"),
        "chunk_text",
        F.expr(md5_long_sql_spark(
            f"concat(cast({id_col} as string), ':', cast(chunk_idx as string))"
        )).alias("chunk_uid"),
    )


def langid_fitted_confusion(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", lang_col: str = "lang",
                            n_buckets: int = 4096, alpha: float = 0.05,
                            ) -> DataFrame:
    """FastText-style fitted language ID (Joulin et al. 2016 — public
    paper — hashed char-n-gram linear classifier), reduced to its
    relational core: per-language naive-Bayes models over hashed char
    trigrams, FITTED BY AGGREGATION from the corpus's own lang labels
    and applied by broadcast join — the same train-is-a-groupBy /
    infer-is-a-map-join shape as the gazetteer. Output is the
    (true_lang, pred_lang, n_docs) confusion matrix (in-sample — the
    operator demo; split the fit input for a held-out measurement).

      score(doc, L) = sum_tri ln( (c[L, h(tri)] + a) / (tot[L] + a*B) )
      pred = argmax_L score  (4dp-rounded first; ties -> lang asc)

    alpha defaults SMALL (0.05): with imbalanced per-language corpora a
    heavy Laplace floor makes a tiny language's near-uniform smoothed
    model outscore the majority language's diffuse seen-probabilities
    (ln(a/(tot_small + a*B)) > avg seen ln(c/tot_big)) and the argmax
    flips toward small languages. Measured: 1.000 in-sample accuracy on
    the synthetic pages corpus (real per-language text;
    tests/test_textstats.py); on the driver's `documents` table the
    lang labels are uncorrelated with the randomized text, so accuracy
    there measures the data (~0.58), not the classifier.

    Scale shape: trigram generation is a per-row HOF projection; the
    per-language bucket models reduce to n_langs*B rows and broadcast
    back; the per-doc score join multiplies trigram rows by n_langs
    (bounded: languages are enumerable) and one uniform doc-id shuffle
    aggregates. Rounding before the argmax keeps the winner identical
    across engine summation orders (transcendental sums cannot tie on
    the 4dp grid).
    """
    norm = NORMALIZE_SQL.format(x=text_col)
    base = docs.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("true_lang"),
        F.expr(norm).alias("t"))
    tris = base.select(
        "id", "true_lang",
        F.explode(F.expr(
            "transform(sequence(1, greatest(length(t) - 2, 1)),"
            " i -> substring(t, i, 3))")).alias("tri"),
    ).select(
        "id", "true_lang",
        (F.expr(md5_long_sql_spark("tri")) % n_buckets).alias("b"),
    )
    counts = tris.groupBy(F.col("true_lang").alias("lang"), "b") \
        .agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    model = (counts.join(totals, "lang")
             .select("lang", "b",
                     F.log((F.col("c") + alpha)
                           / (F.col("tot") + alpha * n_buckets)).alias("lp")))
    # unseen (lang, bucket) pairs back off to the lang's smoothing floor:
    # join trigrams to every lang's bucket row if present, else floor
    langs = totals.select("lang",
                          (F.log(F.lit(alpha))
                           - F.log(F.col("tot") + alpha * n_buckets))
                          .alias("floor_lp"))
    scored = (
        tris.crossJoin(F.broadcast(langs))
        .join(F.broadcast(model.select("lang", "b", "lp")), ["lang", "b"],
              "left")
        .select("id", "true_lang", "lang",
                F.coalesce("lp", "floor_lp").alias("lp"))
        .groupBy("id", "true_lang", "lang")
        .agg(F.round(F.sum("lp"), 4).alias("score"))
    )
    # argmax with lang-asc tie-break via (score desc, lang asc) ranking
    from pyspark.sql import Window as _W

    w = _W.partitionBy("id").orderBy(F.col("score").desc(),
                                     F.col("lang").asc())
    pred = (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("id", "true_lang", F.col("lang").alias("pred_lang")))
    return (pred.groupBy("true_lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


# conservative PII patterns spelled to behave identically under Spark's
# Java regex and DuckDB's RE2 (no lookarounds, no backrefs)
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]?\d{0,4}",
}


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """PII detection + redaction (the C4/Dolma-style curation step
    between quality filtering and publication): count matches per PII
    class and produce the redacted text with each match replaced by a
    typed placeholder. Patterns are deliberately conservative regexes
    that parse identically under Spark's Java regex and DuckDB's RE2
    (no lookarounds/backrefs), so the whole scrub — counts AND the md5
    of the redacted text — is exact-oracle-checkable.

    Scale shape: map-only projection, whole-stage codegen; at 10^12
    docs this is a free rider on whatever scan already touches text.
    """
    out = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    # Spark SQL string literals eat backslashes ('\\d' in the parsed
    # string is what the regex engine must see as '\d'); DuckDB string
    # literals do not, so only this side doubles them
    esc = {n: p.replace("\\", "\\\\") for n, p in PII_PATTERNS.items()}
    # counts run on the PROGRESSIVELY-REDACTED text, in the same class
    # order as the replacements, so every count corresponds to a
    # placeholder actually inserted: overlapping classes (an IPv4 inside
    # an email local part) would otherwise be double-counted against a
    # single replacement and the lineage metrics would contradict the
    # output text
    red = "_t"
    for name, pat in esc.items():
        out = out.withColumn(
            f"n_{name}",
            F.expr(f"size(regexp_extract_all({red}, '{pat}', 0))")
            .cast("long"))
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>')"
    return out.withColumn(
        "redacted_md5", F.expr(md5_long_sql_spark(red))
    ).withColumn(
        "n_pii", sum(F.col(f"n_{n}") for n in PII_PATTERNS).cast("long")
    ).drop("_t")
