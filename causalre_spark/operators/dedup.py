"""The MinHash-LSH core shared by near-dup document dedup and entity
linking, and the word n-gram hashes the curation verdict counts.

Pure DataFrame algebra on portable md5-derived hashes
(functions.hashing), so the results have exact DuckDB oracles
(plans.entry_queries), and the band key a pure-Python twin
(:func:`band_key_py`) for the driver linker and the pipeline oracle.

Scale notes: the shuffles key on content-derived values (LSH band keys,
gram hashes) — uniform by construction, except for the low-entropy LSH
buckets that :func:`lsh_bucket_pairs` caps before anything is
collected. LSH banding is the classic linear-ish alternative to the
O(n²) all-pairs similarity join: candidates are emitted and verified
inside each (band, bkey) bucket, one exchange for the buckets and one
for the pair distinct. :func:`minhash_near_dups` (the dedup_minhash_lsh
query) and entity linking (linking._lsh_edges) both run on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from causalre_spark.functions.hashing import md5_long_sql_spark
from causalre_spark.functions.partitions import spread
from causalre_spark.functions.text import NORMALIZE_SQL


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(id, _toks): the normalized token array of each doc, over the
    spread input (functions.partitions: the n-gram fan-out multiplies
    each doc row ~50x and the sf tables arrive as one unsplittable
    parquet row group).

    The token array is its OWN projection before the n-gram lambda: a
    `slice(split(norm), i, n)` inside the lambda would re-evaluate
    normalize+split per element (~50 regexp passes per doc). The
    aliased array is multiply-referenced and non-cheap, so
    CollapseProject keeps the split to one evaluation per row."""
    norm = NORMALIZE_SQL.format(x="text")
    return spread(docs).select(
        F.col("doc_id").alias("id"),
        F.expr(f"split({norm}, ' ')").alias("_toks"),
    )


def _word_ngrams_sql(n: int) -> str:
    """Distinct word n-grams of ``_toks`` (a doc shorter than n yields
    its whole token string once)."""
    return (f"array_distinct(transform(sequence(1, greatest(1, size(_toks) - {n - 1})),"
            f" i -> concat_ws(' ', slice(_toks, i, {n}))))")


def word_ngram_hashes(docs: DataFrame, n: int, extra_cols: tuple = ()) -> DataFrame:
    """(doc_id, *extra_cols, gh): one row per distinct word n-gram of
    each doc's normalized text, gh its md5-long — the grams of
    :func:`_word_ngrams_sql`, hashed after the explode so the md5 runs
    in codegen.

    explode_outer, not explode: the n-gram array is never NULL or empty
    (a doc shorter than n yields its whole token string), so both emit
    the same rows. But a plain explode of an array column lets Catalyst
    infer a size(grams) > 0 filter and push it through the token
    projection and below spread()'s exchange, where split(normalize(text))
    is re-derived inside the n-gram lambda once per element; an outer
    explode never infers it.

    Not spread: the caller widens its input once, before all of its
    per-doc work (spread() probes its input's partition count, and
    under AQE that probe runs any exchange already in the input as a
    job of its own)."""
    norm = NORMALIZE_SQL.format(x="text")
    return (
        docs.select("doc_id", *extra_cols,
                    F.expr(f"split({norm}, ' ')").alias("_toks"))
        .select("doc_id", *extra_cols,
                F.explode_outer(F.expr(_word_ngrams_sql(n))).alias("shingle"))
        .select("doc_id", *extra_cols,
                F.expr(md5_long_sql_spark("shingle")).alias("gh"))
    )


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
    sets = _doc_tokens(docs).select(
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
