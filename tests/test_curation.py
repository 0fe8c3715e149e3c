"""Unit tests for the corpus-curation operators: the curation verdict
and the MinHash-LSH dedup plan. Hand-built inputs with hand-computed
expectations (the sf-scale oracle gates live in test_entry_contract /
check_entry)."""

from causalre_spark.operators import dedup


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
