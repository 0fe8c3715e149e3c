"""Unit tests for the round-3 corpus-curation operators: cross-doc
duplicated-ngram stats, benchmark decontamination, exact-quota
stratified sampling, hot-group skew profiling, and KG negative
sampling. Hand-built inputs with hand-computed expectations (the
sf-scale oracle gates live in test_entry_contract / check_entry)."""

import pytest
from pyspark.sql import functions as F

from causalre_spark.functions.hashing import md5_long
from causalre_spark.operators import dedup, graph, sampling


def _shingles(spark, rows):
    return spark.createDataFrame(rows, "id long, shingle string")


def test_crossdoc_ngram_stats(spark):
    sh = _shingles(spark, [
        (1, "a"), (1, "b"),
        (2, "b"), (2, "c"),
        (3, "c"),
    ])
    got = {r["doc_id"]: (r["n_grams"], r["n_dup"], r["dup_frac"])
           for r in dedup.crossdoc_ngram_stats(sh, min_docs=2).collect()}
    assert got == {1: (2, 1, 0.5), 2: (2, 2, 1.0), 3: (1, 1, 1.0)}


def test_contamination_stats_threshold_is_strict(spark):
    ev = _shingles(spark, [(1, "a"), (1, "b"), (2, "c")])
    bench = _shingles(spark, [(9, "b"), (9, "c")])
    got = {r["doc_id"]: (r["n_grams"], r["n_overlap"], r["overlap_frac"],
                         r["contaminated"])
           for r in dedup.contamination_stats(ev, bench, 0.5).collect()}
    # doc 1 overlaps exactly at the threshold -> NOT contaminated (strict >)
    assert got == {1: (2, 1, 0.5, False), 2: (1, 1, 1.0, True)}


def test_stratified_sample_exact_quota_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(30)],
        "doc_id long, lang string")
    out = sampling.stratified_sample(df, "lang", quota=4).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append((r["samp_rank"], r["doc_id"]))
    assert {lang: len(v) for lang, v in by_lang.items()} == {"en": 4, "de": 4}
    # rank order == md5(doc_id) order, the reproducibility contract
    for lang, picks in by_lang.items():
        ids = [d for _, d in sorted(picks)]
        pool = [i for i in range(30)
                if ("en" if i % 3 else "de") == lang]
        expect = sorted(pool, key=lambda i: (md5_long(str(i)), i))[:4]
        assert ids == expect
    # rerun returns the identical sample
    again = sampling.stratified_sample(df, "lang", quota=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_group_skew_stats(spark):
    rows = [("A",)] * 8 + [("B",)] + [("C",)]
    df = spark.createDataFrame(rows, "source string")
    got = {r["source"]: (r["n_rows"], r["share"], r["is_hot"],
                         r["salt_factor"])
           for r in sampling.group_skew_stats(
               df, "source", n_target_partitions=20).collect()}
    assert got == {
        "A": (8, 0.8, True, 16),   # ceil(8*20/10)
        "B": (1, 0.1, False, 2),   # ceil(1*20/10)
        "C": (1, 0.1, False, 2),
    }


def test_negative_samples_filters(spark):
    n = 10
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {(r["src"], r["dst_neg"])
           for r in graph.negative_samples(edges, nodes, n).collect()}
    pos = {(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)}
    expect = set()
    for s, d in pos:
        neg = md5_long(f"{s}#{d}") % n
        if neg != s and (s, neg) not in pos:
            expect.add((s, neg))
    assert got == expect
    assert got  # non-vacuous on this seed set
    assert not (got & pos)
    assert all(0 <= d < n and d != s for s, d in got)


def test_dsir_log_weights_vs_python_twin(spark):
    import math
    from collections import Counter

    B, ALPHA = 64, 1.0
    src = {1: ["alpha", "beta", "beta"], 2: ["gamma"], 3: ["beta", "delta"]}
    tgt = ["beta", "beta", "gamma", "epsilon"]

    def bucket(tok):
        return md5_long(tok) % B

    c_s = Counter(bucket(t) for toks in src.values() for t in toks)
    c_t = Counter(bucket(t) for t in tgt)
    ts, tt = sum(c_s.values()), sum(c_t.values())

    def log_ratio(b):
        return (math.log((c_t[b] + ALPHA) / (tt + ALPHA * B))
                - math.log((c_s[b] + ALPHA) / (ts + ALPHA * B)))

    expect = {
        d: (len(toks), round(sum(log_ratio(bucket(t)) for t in toks), 4))
        for d, toks in src.items()
    }

    src_df = spark.createDataFrame(
        [(d, t) for d, toks in src.items() for t in toks],
        "id long, tok string")
    tgt_df = spark.createDataFrame([(9, t) for t in tgt], "id long, tok string")
    got = {r["doc_id"]: (r["n_toks"], r["log_weight"])
           for r in sampling.dsir_log_weights(src_df, tgt_df, B, ALPHA).collect()}
    assert got == expect
    # model property: a target-only token must score above a source-only
    # token (epsilon: target-only; delta: source-only)
    assert log_ratio(bucket("epsilon")) > log_ratio(bucket("delta"))


def test_mixing_weights_upweights_low_resource(spark):
    df = spark.createDataFrame(
        [("en",)] * 4 + [("de",)], "lang string")
    got = {r["lang"]: (r["n_docs"], r["p_raw"], r["p_temp"], r["boost"])
           for r in sampling.mixing_weights(df, "lang", alpha=0.5).collect()}
    # pw: en=2, de=1 -> p_temp en=2/3, de=1/3
    assert got == {
        "en": (4, 0.8, round(2 / 3, 4), round((2 / 3) / 0.8, 4)),
        "de": (1, 0.2, round(1 / 3, 4), round((1 / 3) / 0.2, 4)),
    }
    assert got["de"][3] > 1.0 > got["en"][3]


def test_curation_gate_python_twin_matches_sql(spark):
    """functions/text.curation_keep (the fused in-UDF gate) is
    value-identical to the relational gate column of
    curation_gate_stream — signals AND decision — over the synthetic
    page corpus, so batch gating and streamed flagging cannot drift."""
    from causalre_spark.functions.text import curation_keep, curation_signals
    from causalre_spark.sources.corpus import synth_pages_df
    from causalre_spark.streaming.ingest import curation_gate_stream

    pages = synth_pages_df(spark, 120, partitions=4).select("url", "text")
    rows = curation_gate_stream(pages).collect()
    assert len(rows) == 120
    texts = {r["url"]: r["text"] for r in pages.collect()}
    mismatches = []
    for r in rows:
        n, q, d = curation_signals(texts[r["url"]])
        if (n, q, d, curation_keep(texts[r["url"]])) != (
                r["n_tokens"], r["quality_score"], r["dup_trigram_frac"],
                r["keep"]):
            mismatches.append((r["url"], (n, q, d),
                               (r["n_tokens"], r["quality_score"],
                                r["dup_trigram_frac"]), r["keep"]))
    assert not mismatches, mismatches[:5]
    # both outcomes occur (non-vacuous gate on this corpus)
    kept = {r["keep"] for r in rows}
    assert kept == {True, False}


def test_curation_twin_parity_on_adversarial_texts(spark):
    """Twin parity beyond the synthetic corpus: empty strings,
    punctuation-only, unicode, whitespace runs, exact trigram
    repetition, and seeded random ASCII — one DataFrame, exact
    signal-for-signal agreement."""
    import random

    from causalre_spark.functions.text import curation_keep, curation_signals
    from causalre_spark.streaming.ingest import curation_gate_stream

    rng = random.Random(129)
    vocab = ["the", "cat", "dog!", "a", "of", "x1", "Zq", "ab-cd", "..."]
    texts = [
        "", " ", "!!!", "...,,,;;;", "a", "the the the",
        "one two three one two three one two three one two three",
        "Tabs\tand\nnewlines  and   runs",
        "café naïve über alles",
        "UPPER lower MiXeD 123 456",
    ] + [" ".join(rng.choices(vocab, k=rng.randint(0, 40))) for _ in range(90)]
    df = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string")
    rows = curation_gate_stream(df).collect()
    assert len(rows) == len(texts)
    bad = []
    for r in rows:
        t = texts[int(r["url"][1:])]
        n, q, d = curation_signals(t)
        if (n, q, d, curation_keep(t)) != (
                r["n_tokens"], r["quality_score"], r["dup_trigram_frac"],
                r["keep"]):
            bad.append((repr(t), (n, q, d),
                        (r["n_tokens"], r["quality_score"],
                         r["dup_trigram_frac"], r["keep"])))
    assert not bad, bad[:5]


def test_pack_sequences_invariants(spark):
    """Packing algebra: per-shard offsets are a gapless prefix sum in
    (doc_id) order, pack_id = start_off // L, straddle iff the doc
    crosses an L boundary, and the layout is partitioning-invariant."""
    from causalre_spark.operators.sampling import pack_sequences

    texts = [(i, " ".join(f"t{j}" for j in range(3 + (i * 7) % 11)))
             for i in range(60)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    L = 16
    rows = pack_sequences(docs, seq_len=L, n_shards=4).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(rows) == 60
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in rs:
            assert r["start_off"] == off            # gapless stream
            assert r["end_off"] == off + r["n_tokens"]
            assert r["pack_id"] == r["start_off"] // L
            assert r["straddle"] == (
                r["start_off"] // L != (r["end_off"] - 1) // L)
            off = r["end_off"]
    # partitioning must not change the layout
    again = pack_sequences(docs.repartition(13), seq_len=L, n_shards=4).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}


def test_zorder_layout_locality(spark):
    """The point of the Z-order key: range-partition a table by zkey
    and rows matching a 2-D range predicate land in FEWER files than a
    1-D (x-sorted) layout — the file-level locality that min-max
    statistics turn into data skipping at scale. Also checks the
    interleave against a python twin."""
    import shutil

    from pyspark.sql import functions as F

    from causalre_spark.plans.entry_queries import _zorder_interleave_sql

    n, files = 4096, 16
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y"))
    z = df.withColumn("zkey", F.expr(_zorder_interleave_sql("x", "y", bits=6)))

    # python twin of the interleave
    row = z.filter("x = 5 and y = 9").first()
    twin = sum((((5 >> i) & 1) << (2 * i)) + (((9 >> i) & 1) << (2 * i + 1))
               for i in range(6))
    assert row["zkey"] == twin

    pred = "x between 8 and 15 and y between 8 and 15"

    def files_touched(frame, sort_col):
        path = f"/tmp/causalre_zorder_{sort_col}"
        shutil.rmtree(path, ignore_errors=True)
        (frame.repartitionByRange(files, F.col(sort_col))
         .sortWithinPartitions(sort_col)
         .write.mode("overwrite").parquet(path))
        got = spark.read.parquet(path).filter(pred)
        assert got.count() == 64
        return got.select(F.input_file_name()).distinct().count()

    zorder_files = files_touched(z, "zkey")
    linear_files = files_touched(z, "x")
    # the 8x8 query square is 1/64 of the space: z-layout confines it to
    # a handful of files; the x-sorted layout smears it across most of
    # the x-range files (every x stripe contains all y values)
    assert zorder_files < linear_files
    assert zorder_files <= files // 4


def test_remove_dup_substrings(spark):
    """Crafted corpus vs a hand-rolled python twin: a 4-gram shared by
    two docs is cut from BOTH, a 4-gram repeated twice inside one doc
    is cut (total-occurrence semantics), short docs pass through, and
    unique text survives verbatim."""
    k = 4
    dup = "alpha beta gamma delta"
    docs = [
        (1, f"one two {dup} three four"),
        (2, f"{dup} five six seven eight"),
        (3, f"{dup} nine ten {dup}"),          # twice in one doc
        (4, "unique words only here today"),
        (5, "tiny doc"),                        # shorter than k
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
           for r in dedup.remove_dup_substrings(df, k=k, min_count=2)
           .collect()}

    # python twin: corpus k-gram counts -> covered positions -> rewrite
    toks = {i: t.split(" ") for i, t in docs}
    from collections import Counter
    cnt = Counter()
    for ts in toks.values():
        for p in range(len(ts) - k + 1):
            cnt[" ".join(ts[p:p + k])] += 1
    want = {}
    for i, ts in toks.items():
        covered = set()
        for p in range(len(ts) - k + 1):
            if cnt[" ".join(ts[p:p + k])] >= 2:
                covered.update(range(p, p + k))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        want[i] = (len(ts), len(ts) - len(kept), " ".join(kept))
    assert got == want
    # the shared 4-gram is gone everywhere, unique text untouched
    assert "alpha" not in got[1][2] and "alpha" not in got[3][2]
    assert got[4] == (5, 0, "unique words only here today")
    assert got[5] == (2, 0, "tiny doc")


def _near_dup_docs():
    """Low-entropy documents table: 210 copies of one boilerplate text
    (one bucket per band over the cap of 200), 200 copies of another
    (exactly at the cap, so kept), two one-word variants of the first
    boilerplate, and six true near-duplicate pairs."""
    words = [f"w{i}" for i in range(400)]
    rows = [(i, "cookie notice accept all cookies to continue browsing this site")
            for i in range(210)]
    rows += [(1000 + i, "subscribe to our newsletter for weekly updates and offers")
             for i in range(200)]
    rows += [(2000, "cookie notice accept all cookies to continue browsing this page"),
             (2001, "cookie banner accept all cookies to continue browsing this site")]
    for p in range(6):
        base = words[p * 40:p * 40 + 30]
        rows.append((3000 + 2 * p, " ".join(base)))
        rows.append((3001 + 2 * p, " ".join(base[:-2] + ["edit", str(p)])))
    return rows


def test_minhash_near_dups_plan_has_two_exchanges(spark):
    """Regression lock for the dedup job count: docs -> verified pairs
    shuffles exactly twice — once on the LSH bucket (band, bkey), whose
    window-count cap and collect_list share the partitioning, and once
    for the pair distinct — with no join anywhere (the shared core of
    tests/test_linking.py::test_lsh_edges_plan_has_two_exchanges)."""
    import io
    import re
    from contextlib import redirect_stdout

    docs = spark.createDataFrame(_near_dup_docs(), "doc_id long, text string")
    # as wide as the session, so spread() adds no round-robin exchange
    assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    buf = io.StringIO()
    with redirect_stdout(buf):
        dedup.minhash_near_dups(docs, n=3, n_hashes=6, band_size=2,
                                thd=0.3).explain()
    plan = buf.getvalue()
    keys = [re.sub(r"#\d+L?", "", k) for k in
            re.findall(r"Exchange hashpartitioning\((.*?), \d+\)", plan)]
    assert sorted(keys) == ["band, bkey", "id_a, id_b, jaccard"], plan
    assert "Exchange" not in plan.replace("Exchange hashpartitioning", ""), plan
    assert "Join" not in plan, plan


def test_dedup_minhash_lsh_matches_oracle_past_the_bucket_cap(spark, tmp_path):
    """dedup_minhash_lsh equals its DuckDB oracle on a table where the
    lsh bucket cap decides the answer: the 210-copy boilerplate fills
    buckets past 200 (dropped: without the cap Spark would emit its
    21,945 pairs), the 200-copy one sits exactly at the cap (kept)."""
    import duckdb
    import pandas as pd

    from causalre_spark.plans.entry_queries import (
        SQL_DEDUP_MINHASH, _duck_minhash_cte, q_dedup_minhash_lsh)
    from tools.check_entry import value_hash

    pd.DataFrame(_near_dup_docs(), columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path / 'documents.parquet'}'")
    sizes = con.execute(f"WITH {_duck_minhash_cte(3, 6, 2)} "
                        "SELECT max(n), count(*) FILTER (WHERE n = 200) "
                        "FROM bsizes").fetchone()
    assert sizes[0] > 200 and sizes[1] > 0, sizes
    want = con.execute(SQL_DEDUP_MINHASH).df()
    got = q_dedup_minhash_lsh(spark, str(tmp_path)).toPandas()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)
    # the at-cap group (19,900 pairs) and the near-dup pairs both survive
    ids = set(got["id_a"]) | set(got["id_b"])
    assert {1000, 1199} <= ids and not ids & set(range(210))
    assert len(ids & set(range(3000, 3012))) >= 6, sorted(ids & set(range(3000, 3012)))


def _adversarial_verdict_docs():
    """(doc_id, text) rows for the curation verdict's corners: NULL,
    empty, whitespace-only and punctuation-only texts, 1-3 word docs,
    top-bigram count ties, case variants and exact duplicates, clean
    long docs, and benchmark docs (doc_id % 97 == 0) whose grams eval
    docs share — the sf tables never set flag_contaminated."""
    import random

    clean = ("the history of the river and the mill is told in the old "
             "town records of the valley")
    bench = ("a quiz question on the capital of the country and the name "
             "of its longest river today")
    rows = [
        (1, None), (2, ""), (3, "   "), (4, " \t "), (5, "!!! ... ???"),
        (6, "one"), (7, "two words"), (8, "three word doc"),
        (9, "a b a b a"), (10, "x y x z y z"),
        (11, clean), (12, clean.upper()), (13, clean.title()), (14, clean),
        (15, clean + " again"),
        (16, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (17, "we walked to the edge of the lake and sat in the grass "
             "for a while to rest"),
        (97, bench), (194, bench.replace("today", "yesterday")),
        (98, bench.replace("today", "now")),
        (99, "the answer key says " + bench[:40]),
        (100, "an unrelated note about the weather in the hills and the "
              "snow of last winter"),
    ]
    rng = random.Random(5)
    vocab = ["the", "of", "a", "river", "mill", "town", "snow", "hill",
             "quiz", "capital", "and", "to", "is"]
    rows += [(200 + i, " ".join(rng.choices(vocab, k=rng.randint(0, 30))))
             for i in range(90)]
    return rows


def test_curation_verdict_matches_oracle_on_adversarial_docs(spark, tmp_path):
    """curation_verdict equals its DuckDB oracle by rows, columns and
    value hash on NULL/empty/short texts, bigram ties, duplicates and
    contaminated docs, and every flag column takes both values."""
    import duckdb
    import pandas as pd

    from causalre_spark.plans.entry_queries import (
        SQL_CURATION_VERDICT, q_curation_verdict)
    from tools.check_entry import value_hash

    pd.DataFrame(_adversarial_verdict_docs(),
                 columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path / 'documents.parquet'}'")
    want = con.execute(SQL_CURATION_VERDICT).df()
    got = q_curation_verdict(spark, str(tmp_path)).toPandas()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) == len(_adversarial_verdict_docs()) - 2
    assert value_hash(got) == value_hash(want)
    for c in ["flag_lowq", "flag_repetitive", "flag_dup",
              "flag_contaminated", "keep"]:
        assert {True, False} <= set(got[c].dropna()), c
    # a NULL text has no quality score, but its repetition flag is decided
    null_doc = got[got["doc_id"] == 1]
    assert null_doc["flag_lowq"].tolist() == [None]
    assert null_doc["flag_repetitive"].tolist() == [False]


def test_curation_verdict_plan_has_two_exchanges(spark):
    """Regression lock for the verdict's job count: docs -> verdict
    shuffles exactly twice — on the gram hash gh for the window counts
    and on doc_id for the per-doc fold — with no join, no broadcast,
    and no Filter that re-derives the n-gram lambda (the size() > 0
    filter a plain explode lets Catalyst push below the exchange)."""
    import io
    import re
    from contextlib import redirect_stdout

    from causalre_spark.plans.entry_queries import curation_verdict

    docs = spark.createDataFrame(_adversarial_verdict_docs(),
                                 "doc_id long, text string")
    # as wide as the session, so spread() adds no round-robin exchange
    assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    buf = io.StringIO()
    with redirect_stdout(buf):
        curation_verdict(docs).explain()
    plan = buf.getvalue()
    keys = [re.sub(r"#\d+L?", "", k) for k in
            re.findall(r"Exchange hashpartitioning\((.*?), \d+\)", plan)]
    assert sorted(keys) == ["doc_id", "gh"], plan
    assert "Exchange" not in plan.replace("Exchange hashpartitioning", ""), plan
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert not [ln for ln in plan.splitlines()
                if "Filter" in ln and "transform(" in ln], plan
