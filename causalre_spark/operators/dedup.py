"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup over a document
table — all pure DataFrame algebra on portable md5-derived hashes
(functions.hashing), so each has an exact DuckDB oracle.

Scale notes: the shuffles key on content-derived values (hash groups,
LSH band keys, simhash blocks) — uniform by construction, except for
the low-entropy LSH buckets that :func:`lsh_bucket_pairs` caps before
anything is collected. LSH banding is the classic linear-ish
alternative to the O(n²) all-pairs similarity join: candidates are
emitted and verified inside each (band, bkey) bucket, one exchange for
the buckets and one for the pair distinct. Entity linking
(linking._lsh_edges) runs on the same core. The simhash block join
bounds candidate pairs to same-block collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from causalre_spark.functions.hashing import md5_long_sql_spark
from causalre_spark.functions.partitions import spread
from causalre_spark.functions.text import NORMALIZE_SQL


def exact_dedup_keepers(docs: DataFrame, key_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by md5 of the normalized key: one keeper (min id) per
    content group + group size. (A8 at corpus scale.)"""
    norm = NORMALIZE_SQL.format(x=key_col)
    return (
        docs.withColumn("content_key", F.expr(md5_long_sql_spark(norm)))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks): the normalized token array of each doc, over the
    spread input (functions.partitions: the n-gram fan-out multiplies
    each doc row ~50x and the sf tables arrive as one unsplittable
    parquet row group)."""
    norm = NORMALIZE_SQL.format(x=text_col)
    return spread(docs).select(
        F.col(id_col).alias("id"),
        F.expr(f"split({norm}, ' ')").alias("_toks"),
    )


def _word_ngrams_sql(n: int) -> str:
    """Distinct word n-grams of ``_toks`` (a doc shorter than n yields
    its whole token string once)."""
    return (f"array_distinct(transform(sequence(1, greatest(1, size(_toks) - {n - 1})),"
            f" i -> concat_ws(' ', slice(_toks, i, {n}))))")


def word_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, shingle) distinct word n-grams of the normalized text.

    The token array is materialized as its OWN projection before the
    n-gram lambda (the repetition_row_signals discipline): a
    `slice(split(norm), i, n)` inside the transform lambda re-evaluates
    normalize+split PER ELEMENT — ~50 regexp passes per doc, measured
    ~6 ms/doc of pure re-evaluation at bench scale. The aliased array is
    multiply-referenced and non-cheap, so CollapseProject keeps the
    split to exactly one evaluation per row; the emitted shingles are
    the identical strings."""
    return _doc_tokens(docs, id_col, text_col).select(
        "id", F.explode(F.expr(_word_ngrams_sql(n))).alias("shingle"))


def lsh_bucket_pairs(sets: DataFrame, n_hashes: int, band_size: int,
                     max_bucket: int | None, thd: float) -> DataFrame:
    """MinHash-LSH candidate pairs with their set sizes and overlap, in
    ONE shuffle exchange: the shared core of near-dup document dedup
    (:func:`minhash_near_dups`) and entity linking (linking._lsh_edges).

    Input: one (id BIGINT, hs array<BIGINT>) row per item, hs the
    md5-long hashes of its distinct shingles. Output: (id_a < id_b, n_a, n_b, n_shared)
    per pair sharing a bucket, NOT deduplicated (a pair can share
    several bands) — callers apply their exact threshold and a distinct.

    Everything that depends on one item is a projection: the n_hashes
    Carter-Wegman minima over hs and the band keys (:func:`band_key`).
    The bands take ONE exchange on (band, bkey): a window count drops
    singleton buckets and, when max_bucket is set, oversized ones BEFORE
    anything is collected — a giant bucket is a non-discriminative
    collision (boilerplate/empty docs) that would emit O(n²) pairs, and
    true near-dups also collide in other, small buckets. The
    collect_list aggregate reuses the window's hash partitioning.
    Pairs are emitted inside each bucket; the size prefilter (J >= t
    implies min(n)/max(n) >= t) keeps 1e-4 of slack so a caller that
    reports a 4dp-rounded Jaccard (round-half-up can lift a true J of
    t - 5e-5 onto t) loses no pair to it. n_shared is array_intersect
    over the primitive hash arrays."""
    from causalre_spark.functions.hashing import cw_hash_sql

    sigs = sets.select("id", "hs", *[
        F.expr(f"array_min(transform(hs, x -> {cw_hash_sql('x', i)}))").alias(f"h{i}")
        for i in range(n_hashes)])
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 band_key([f"h{b * band_size + j}" for j in range(band_size)]).alias("bkey"))
        for b in range(n_hashes // band_size)])
    banded = (
        sigs.select("id", "hs", F.explode(bands).alias("bk"))
        .select("id", "hs", "bk.band", "bk.bkey")
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey")))
    )
    keep = F.col("_n") >= 2
    if max_bucket:
        keep &= F.col("_n") <= max_bucket
    buckets = (
        banded.filter(keep)
        .groupBy("band", "bkey")
        .agg(F.collect_list(F.struct("id", "hs")).alias("m"))
    )
    pairs = buckets.select(F.expr(
        "inline(flatten(transform(sequence(0, size(m) - 2), i ->"
        " transform(slice(m, i + 2, size(m) - i - 1), y ->"
        " IF(m[i].id < y.id,"
        " named_struct('id_a', m[i].id, 'id_b', y.id, 'ha', m[i].hs, 'hb', y.hs),"
        " named_struct('id_a', y.id, 'id_b', m[i].id, 'ha', y.hs, 'hb', m[i].hs))))))"))
    n_a, n_b = F.size("ha"), F.size("hb")
    return (
        pairs.filter(F.least(n_a, n_b) / F.greatest(n_a, n_b) >= thd - 1e-4)
        .select("id_a", "id_b", n_a.alias("n_a"), n_b.alias("n_b"),
                F.size(F.array_intersect("ha", "hb")).alias("n_shared"))
    )


def minhash_near_dups(docs: DataFrame, n: int, n_hashes: int, band_size: int,
                      thd: float, max_bucket: int | None = 200) -> DataFrame:
    """Verified near-dup doc pairs (id_a < id_b, jaccard) by MinHash-LSH
    over distinct word n-grams of the normalized text; jaccard is the
    exact set Jaccard over the shingle hashes, rounded to 4dp, kept at
    >= thd.

    One per-doc projection feeds :func:`lsh_bucket_pairs`: hs is the
    md5-long of each distinct n-gram string (distinct on the strings,
    so size(hs) is the doc's shingle count). Jaccard over the hashes
    equals Jaccard over the strings modulo 48-bit md5 collisions, which
    the DuckDB oracle reproduces (it hashes with the same expression).
    Two exchanges: the (band, bkey) buckets and the pair distinct."""
    sets = _doc_tokens(docs, "doc_id", "text").select(
        "id", F.expr(f"transform({_word_ngrams_sql(n)}, s -> {md5_long_sql_spark('s')})")
        .alias("hs"))
    jac = F.round(F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 4)
    return (
        lsh_bucket_pairs(sets, n_hashes, band_size, max_bucket, thd)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= thd)
        .distinct()
    )


def band_key(hcols: list) -> "F.Column":
    """One BIGINT key for a band's h-columns: exact positional packing
    for band_size <= 2 (CW values < 2^31 - 1, so h0 * 2^31 + h1 is
    injective and < 2^62), md5-long of the decimal concat otherwise.
    Twins: entry_queries._duck_band_key (DuckDB), :func:`band_key_py`
    (the pure-Python pipeline oracle) — all three spell the identical
    value, so a (band_size > 2) hash collision merges the same buckets
    in every engine."""
    if len(hcols) == 1:
        return F.col(hcols[0])
    if len(hcols) == 2:
        return (F.col(hcols[0]) * F.lit(1 << 31) + F.col(hcols[1]))
    concat = "concat_ws('|', " + ", ".join(
        f"cast({h} as string)" for h in hcols) + ")"
    return F.expr(md5_long_sql_spark(concat))


def band_key_py(hvals) -> int:
    """Python twin of :func:`band_key` over a band's h-values."""
    from causalre_spark.functions.hashing import md5_long

    hvals = list(hvals)
    if len(hvals) == 1:
        return int(hvals[0])
    if len(hvals) == 2:
        return int(hvals[0]) * (1 << 31) + int(hvals[1])
    return md5_long("|".join(str(int(h)) for h in hvals))


def simhash16(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash over word token md5 hashes — per-bit majority vote,
    built entirely from relational aggregates (explode + sum + case).
    Input spread before the token explode (functions.partitions)."""
    norm = NORMALIZE_SQL.format(x=text_col)
    toks = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(f"split({norm}, ' ')")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = toks.withColumn("th", F.expr(md5_long_sql_spark("tok")))
    bit_aggs = [
        F.sum(
            F.when(F.expr(f"(th div {1 << b}) % 2 = 1"), 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(16)
    ]
    votes = h.groupBy("id").agg(*bit_aggs)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("id", sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    shingles: DataFrame, thd_num: int, thd_den: int,
    cleanup: list | None = None,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup self-join via prefix filtering
    (AllPairs/PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — the lossless alternative to MinHash when the similarity
    answer must be exact, not probabilistic.

    Order all shingles by (global document frequency asc, shingle) —
    rarest first. A document of set size m only needs its first
    p = m - ceil(t*m) + 1 shingles as join keys: any pair with
    Jaccard >= t MUST share a token inside both prefixes under a
    global token order, so joining prefixes loses no true pair while
    shrinking the candidate join by ~t per side. Candidates then pass
    a length filter (t <= min/max sizes) and an exact intersection
    count. Versus the brute all-pairs join this is the standard
    set-similarity-join shape that survives corpus scale: join keys
    are the RAREST tokens, so bucket sizes are small by construction
    (the inverse of LSH's skew-guard problem).

    Threshold is the rational thd_num/thd_den and the output carries
    integer (n_shared, n_union) instead of a rounded float — the
    comparison and the emitted values are BIGINT-exact in any engine,
    so no cross-engine rounding hazard exists at all.

    Returns (id_a, id_b, n_shared, n_union) with id_a < id_b and
    thd_den * n_shared >= thd_num * n_union.
    """
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    ranked = (
        shingles.join(freq, "shingle")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, "id")
    )
    # prefix length: m - ceil(t*m) + 1, integer-exact ceil
    pref_len = (
        F.col("n_sh")
        - F.floor((F.lit(thd_num) * F.col("n_sh") + F.lit(thd_den - 1)) / F.lit(thd_den))
        + F.lit(1)
    )
    prefix = (
        ranked.filter(F.col("rnk") <= pref_len)
        .select("id", "shingle", "n_sh")
    )
    if cleanup is not None:
        prefix = prefix.persist()
        cleanup.append(prefix)
    a = prefix.select(F.col("id").alias("id_a"), "shingle",
                      F.col("n_sh").alias("n_a"))
    b = prefix.select(F.col("id").alias("id_b"), "shingle",
                      F.col("n_sh").alias("n_b"))
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # Jaccard >= t  =>  t <= |min set| / |max set|
        .filter(F.lit(thd_den) * F.least("n_a", "n_b")
                >= F.lit(thd_num) * F.greatest("n_a", "n_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    shared = (
        cand.join(shingles.withColumnRenamed("id", "id_a"), "id_a")
        .join(
            shingles.withColumnRenamed("id", "id_b")
            .withColumnRenamed("shingle", "shingle_b"), "id_b")
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes.select(F.col("id").alias("id_a"),
                                 F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .withColumn("n_union", (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("long"))
        .filter(F.lit(thd_den) * F.col("n_shared") >= F.lit(thd_num) * F.col("n_union"))
        .select("id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"), "n_union")
    )


def crossdoc_ngram_stats(shingles: DataFrame, min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated-n-gram statistics — the corpus-level
    signal behind exact-substring train-set dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    approximated at word-n-gram granularity: the suffix-array pass that
    paper runs on one machine is replaced by the n-gram occurrence join
    a Spark cluster can run as two partial hash aggregations.

    Input: (id, shingle) DISTINCT word n-grams per doc (word_shingles).
    Output per doc: n_grams, n_dup (grams occurring in >= `min_docs`
    distinct docs), dup_frac (4dp) — the filter column a curation
    pipeline thresholds on.

    Scale shape: shingle strings collapse to 48-bit md5 BIGINTs BEFORE
    the wide shuffle, so the gram-frequency aggregation and the join
    back move fixed-width integers, not strings. Both aggregations are
    partial (map-side combine); the join key (gh) is the aggregation
    key, so AQE coalesces the two shuffles onto one exchange footprint.
    The hash space (2^48) makes cross-gram collisions negligible, and
    the DuckDB oracle hashes with the SAME md5 derivation, so even a
    collision cannot cause cross-engine disagreement.
    """
    g = shingles.select(
        "id", F.expr(md5_long_sql_spark("shingle")).alias("gh"))
    # shingles are distinct per doc -> count(*) = distinct-doc count
    cnt = g.groupBy("gh").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        g.join(cnt, "gh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= min_docs, 1).otherwise(0))
            .cast("long").alias("n_dup"),
        )
        .select(
            F.col("id").alias("doc_id"), "n_grams", "n_dup",
            F.round(F.col("n_dup") / F.col("n_grams"), 4).alias("dup_frac"),
        )
    )


def contamination_stats(eval_shingles: DataFrame,
                        bench_shingles: DataFrame,
                        threshold: float = 0.5) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3 appendix-C
    / PaLM eval-contamination shape): for every training document, the
    fraction of its distinct word n-grams that also occur anywhere in a
    held-out benchmark set; documents above `threshold` are flagged.

    Scale shape: the benchmark side of a decontamination pass is small
    (eval suites are MBs; the corpus is the 100 TB side), so its gram-key
    set is DISTINCT-ed and broadcast — the corpus-side scan never
    shuffles, making the whole pass map-side: explode, hash, broadcast
    LEFT join, per-doc aggregate. Gram keys are 48-bit md5 BIGINTs (same
    derivation on the DuckDB oracle side, so values agree bit-for-bit).
    """
    bench = (
        bench_shingles
        .select(F.expr(md5_long_sql_spark("shingle")).alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    g = eval_shingles.select(
        "id", F.expr(md5_long_sql_spark("shingle")).alias("gh"))
    return (
        g.join(F.broadcast(bench), "gh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long").alias("n_overlap"),
        )
        .select(
            F.col("id").alias("doc_id"), "n_grams", "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_grams"), 4)
            .alias("overlap_frac"),
        )
        .withColumn("contaminated", F.col("overlap_frac") > threshold)
    )


def remove_dup_substrings(docs: DataFrame, k: int = 8, min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exact duplicated-substring REMOVAL — the rewrite stage of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ExactSubstr): every token covered by a word ``k``-gram that
    occurs >= ``min_count`` times in the whole corpus (counting repeats
    inside one document, like the paper's suffix-array occurrence count)
    is cut from the document. crossdoc_ngram_stats measures the signal;
    this operator performs the edit and returns the cleaned text.

    Output: (doc_id, n_tokens, n_removed, clean_text) — clean_text is
    the kept tokens of the NORMALIZED text re-joined with single spaces
    (the same normalization every dedup operator keys on).

    Scale shape: the corpus-wide phase is ONE shuffle — positional
    k-grams collapse to 48-bit md5 BIGINTs map-side, the occurrence
    count is a partial hash aggregation on those integers, and the
    duplicated positions join back on the same key (AQE shares the
    exchange footprint). The per-document phase (interval coverage +
    token filter) is pure HOF projection — zero further shuffle. The
    coverage test is O(n_tokens * n_dup_positions) per doc in
    whole-stage codegen; documents are bounded (pipeline docs are page
    fragments), so the quadratic corner is a per-row constant, not a
    corpus term. Docs shorter than ``k`` tokens pass through untouched.
    """
    norm = NORMALIZE_SQL.format(x=text_col)
    base = spread(docs).select(F.col(id_col).alias("id"),
                               F.expr(f"split({norm}, ' ')").alias("toks"))
    gram = f"concat_ws(' ', slice(toks, p, {k}))"
    pos = (base
           .select("id", "toks", F.explode(F.expr(
               f"CASE WHEN size(toks) >= {k} "
               f"THEN sequence(1, size(toks) - {k} + 1) "
               f"ELSE array() END")).alias("p"))
           .select("id", "p", F.expr(md5_long_sql_spark(gram)).alias("gh")))
    dup_gh = (pos.groupBy("gh")
              .agg(F.count(F.lit(1)).alias("n_occ"))
              .where(F.col("n_occ") >= min_count)
              .select("gh"))
    dup_pos = (pos.join(dup_gh, "gh")
               .groupBy("id")
               .agg(F.sort_array(F.collect_list("p")).alias("dps")))
    return (base.join(dup_pos, "id", "left")
            .withColumn("kept", F.expr(
                f"filter(sequence(1, size(toks)), t -> dps IS NULL OR "
                f"NOT exists(dps, p -> p <= t AND t < p + {k}))"))
            .select(
                F.col("id").alias("doc_id"),
                F.size("toks").cast("long").alias("n_tokens"),
                (F.size("toks") - F.size("kept")).cast("long")
                .alias("n_removed"),
                F.expr("concat_ws(' ', transform(kept, t -> toks[t - 1]))")
                .alias("clean_text")))
