"""Query registry: the two curation operators (MinHash-LSH near-dup
pairs and the per-doc curation verdict), the flagship pages->triples
queries and the gold-split quality families, each as a (Spark query
function, DuckDB oracle SQL) pair. Every query that reads the testdata
reads only its `documents` table.

Design rules that make the value-hash comparison exact:
  - every cross-engine hash is the portable md5-derived bigint
    (functions.hashing.md5_long_sql — same text evaluates in both engines)
  - every float output is round()ed (4-6 dp) on both sides, BEFORE any
    ranking that depends on it, so FP summation order can't flip results
  - every integer output is cast to BIGINT on both sides
  - every window order and tie-break is total (no nondeterminism)

Oracle SQL is DuckDB dialect (regexp_replace needs the 'g' flag,
string_split vs split, list ops) — dialects differ, values must not.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from causalre_spark import FIXTURES_DIR
from causalre_spark.functions.hashing import md5_long_sql
from causalre_spark.functions.partitions import spread
from causalre_spark.functions.text_duck import NORMALIZE_SQL_DUCK
from causalre_spark.operators import dedup, textstats


# --------------------------------------------------------------------------
# shared fragments
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# curation operators: MinHash-LSH near-dup pairs and the composite
# per-doc curation verdict, with the DuckDB fragments their oracles
# compose
# --------------------------------------------------------------------------


def q_dedup_minhash_lsh(spark, sf_dir):
    """(id_a, id_b, jaccard) verified near-dup pairs: word 3-grams,
    6 hashes in 3 bands of 2, J >= 0.3 — the parameters every
    _duck_minhash_cte(3, 6, 2) oracle spells."""
    return dedup.minhash_near_dups(_t(spark, sf_dir, "documents"),
                                   n=3, n_hashes=6, band_size=2, thd=0.3)


def _duck_band_key(hcols: list, band_size: int) -> str:
    """DuckDB twin of dedup.band_key: exact positional BIGINT packing
    for band_size <= 2 (CW values < 2^31 - 1), md5-long of the concat
    otherwise — identical expression family to the Spark side, so any
    hash collision merges the same buckets in both engines."""
    if band_size == 1:
        return hcols[0]
    if band_size == 2:
        return f"({hcols[0]} * {1 << 31} + {hcols[1]})"
    concat = "concat_ws('|', " + ", ".join(hcols) + ")"
    return md5_long_sql(concat)


def _duck_minhash_cte(n: int, n_hashes: int, band_size: int) -> str:
    # explode-join spelling of dedup.minhash_near_dups, independent of
    # the Spark side's in-bucket arrays: the md5-long base hash is
    # projected ONCE (shk), feeds the CW minhash aggregates AND the
    # shared-shingle join keys; band keys are packed BIGINTs
    # (_duck_band_key); the bucket cap is a size join.
    from causalre_spark.functions.hashing import cw_hash_sql

    norm = NORMALIZE_SQL_DUCK.format(x="text")
    mins = ", ".join(
        f"min({cw_hash_sql('bh', s)}) AS h{s}" for s in range(n_hashes))
    bands = "\nUNION ALL\n".join(
        f"SELECT id, {b} AS band, "
        f"{_duck_band_key([f'h{b * band_size + j}' for j in range(band_size)], band_size)}"
        f" AS bkey FROM sigs"
        for b in range(n_hashes // band_size))
    return f"""
norm AS (SELECT doc_id AS id, string_split({norm}, ' ') AS toks FROM documents),
sh AS (SELECT DISTINCT id,
              array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
       FROM (SELECT id, toks,
                    unnest(generate_series(1, greatest(1, len(toks) - {n - 1}))) AS i
             FROM norm) q),
shk AS (SELECT id, {md5_long_sql('shingle')} AS bh FROM sh),
sigs AS (SELECT id, {mins} FROM shk GROUP BY id),
banded AS ({bands}),
bsizes AS (SELECT band, bkey, count(*) AS n FROM banded GROUP BY band, bkey),
bando AS (SELECT b.* FROM banded b JOIN bsizes s
          ON b.band = s.band AND b.bkey = s.bkey WHERE s.n <= 200),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bando a JOIN bando b ON a.band = b.band AND a.bkey = b.bkey
         WHERE a.id < b.id),
counts AS (SELECT id, count(*) AS n_sh FROM shk GROUP BY id),
shared AS (SELECT c.id_a, c.id_b, count(*) AS n_shared
           FROM cand c JOIN shk x ON x.id = c.id_a
                        JOIN shk y ON y.id = c.id_b AND y.bh = x.bh
           GROUP BY c.id_a, c.id_b)
"""


SQL_DEDUP_MINHASH = f"""
WITH {_duck_minhash_cte(3, 6, 2)}
SELECT s.id_a, s.id_b,
       round(s.n_shared / (ca.n_sh + cb.n_sh - s.n_shared), 4) AS jaccard
FROM shared s
JOIN counts ca ON ca.id = s.id_a
JOIN counts cb ON cb.id = s.id_b
WHERE round(s.n_shared / (ca.n_sh + cb.n_sh - s.n_shared), 4) >= 0.3
"""


_DUCK_NORM_TOKS = f"string_split({NORMALIZE_SQL_DUCK.format(x='text')}, ' ')"

SQL_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text, {_DUCK_NORM_TOKS} AS toks,
         {NORMALIZE_SQL_DUCK.format(x='text')} AS norm
  FROM documents),
feat AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    round((length(norm) - (len(toks) - 1)) * 1.0 / greatest(len(toks), 1), 4) AS avg_token_len,
    round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
          * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
    round(len(list_filter(toks, t -> list_contains(
          ['the','a','of','to','and','in','is','was'], t)))
          * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio
  FROM base)
SELECT *, round((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END)
                + (1 - punct_ratio) * 0.3
                + least(stopword_ratio * 3, 1.0) * 0.3, 5) AS quality_score
FROM feat
"""


SQL_TEXT_REPETITION = f"""
WITH base AS (
  SELECT doc_id, string_split(norm, ' ') AS toks, length(norm) AS n_norm_chars
  FROM (SELECT doc_id, {NORMALIZE_SQL_DUCK.format(x='text')} AS norm FROM documents)),
wstats AS (
  SELECT doc_id, n_norm_chars, len(toks) AS n_words,
         len(list_distinct(toks)) AS n_distinct_words
  FROM base),
grams AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1]) END AS bigrams,
         CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE
           list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         END AS trigrams
  FROM base),
tgs AS (
  SELECT doc_id, len(trigrams) AS n_tri,
         len(list_distinct(trigrams)) AS n_dtri
  FROM grams WHERE len(trigrams) > 0),
bgc AS (
  SELECT doc_id, bigram, count(*) AS cnt
  FROM (SELECT doc_id, unnest(bigrams) AS bigram FROM grams) u
  GROUP BY doc_id, bigram),
top AS (
  SELECT doc_id, bigram, cnt
  FROM bgc
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, bigram DESC) = 1),
merged AS (
  SELECT w.doc_id,
         CAST(w.n_words AS BIGINT) AS n_words,
         floor((1.0 - w.n_distinct_words * 1.0 / greatest(w.n_words, 1)) * 100000)
           / 100000 AS dup_word_frac,
         floor(coalesce(1.0 - t.n_dtri * 1.0 / t.n_tri, 0.0) * 100000)
           / 100000 AS dup_trigram_frac,
         p.bigram AS top_bigram,
         CASE WHEN p.bigram IS NULL THEN 0.0
              ELSE floor(p.cnt * length(p.bigram) * 1.0
                         / greatest(w.n_norm_chars, 1) * 100000) / 100000
         END AS top_bigram_frac
  FROM wstats w
  LEFT JOIN tgs t USING (doc_id)
  LEFT JOIN top p USING (doc_id))
SELECT *, (top_bigram_frac <= 0.20 AND dup_trigram_frac <= 0.60) AS keep
FROM merged
"""


# --------------------------------------------------------------------------
# UDF-backed pipeline queries (no SQL oracle for causal_triples — its
# golden correctness is the pytest oracle-parity suite)
# --------------------------------------------------------------------------


def _pages_from_documents(spark, sf_dir) -> DataFrame:
    """Adapt the driver's documents table to the input_hint page schema
    (html synthesized around text — extraction invariant still holds).
    Spread first so the downstream Arrow-UDF extraction stage gets one
    task per core instead of the scan's single unsplittable row group
    (functions.partitions rationale)."""
    return spread(_t(spark, sf_dir, "documents")).select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc/"), F.col("doc_id")).alias("url"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), F.col("text"),
                          F.lit("</p></body></html>")), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def q_causal_triples(spark, sf_dir):
    """Flagship pages->triples pipeline on the (trigger-free) driver
    corpus. The correct answer here is the EMPTY set — proven, not
    assumed: tests/test_pipeline_parity.py runs the single-process
    oracle over the same sf0.001 pages and asserts exact triple-set
    equality, and run_pipeline early-exits the linking stages when the
    relation stream is empty (reclaims ~3/4 of the old wall-clock)."""
    from causalre_spark.pipeline import run_pipeline

    pages = _pages_from_documents(spark, sf_dir)
    return run_pipeline(spark, pages, verify_extraction=False)["triples"]


def _seeded_pages_from_documents(spark, sf_dir) -> DataFrame:
    """documents + a deterministic causal seed mix per doc — 1-2 causal
    template sentences plus a trigger-free distractor on 2/5 of keys
    (sources/corpus.page_from_document(seed_causal=True) ->
    seed_sentences, the same pure functions the parity-test oracle
    uses) -> input_hint pages."""
    import pandas as pd

    from causalre_spark.sources.corpus import PAGES_SCHEMA, page_from_document

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text", "lang")

    def gen(batches):
        for pdf in batches:
            rows = [page_from_document(int(d), s, t, l, seed_causal=True)
                    for d, s, t, l in zip(pdf["doc_id"], pdf["source"],
                                          pdf["text"], pdf["lang"])]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs.mapInPandas(gen, schema=PAGES_SCHEMA)


def q_causal_triples_seeded(spark, sf_dir):
    """Non-vacuous flagship twin: same full pipeline, driver corpus
    seeded with a deterministic causal template mix (1-2 causal
    sentences + trigger-free distractor negatives per doc,
    sources/corpus.seed_sentences). Correctness is exact-parity-gated
    vs the independent single-process oracle in
    tests/test_pipeline_parity.py; the driver oracle is a frozen
    surface fixture keyed by the documents table's (count, text-length
    sum) — a value-hash pin on end-to-end pipeline determinism
    (tools/freeze_seeded.py), since the numeric model itself is not
    SQL-expressible."""
    from causalre_spark.pipeline import run_pipeline

    pages = _seeded_pages_from_documents(spark, sf_dir)
    return run_pipeline(spark, pages, verify_extraction=False)["triples"]


SQL_CAUSAL_TRIPLES_SEEDED = f"""
SELECT cause_id, cause, predicate, effect_id, effect, n_evidence,
       max_score
FROM '{FIXTURES_DIR}/seeded/causal_triples_seeded.parquet'
WHERE n_docs = (SELECT count(*) FROM documents)
  AND sum_len = (SELECT sum(length(text)) FROM documents)
"""


# --------------------------------------------------------------------------
# gold-data eval (reference's own annotated test splits; VERDICT r02 #2)
# --------------------------------------------------------------------------

_GOLD_FIX = os.path.join(FIXTURES_DIR, "gold_eval")


def _q_gold_eval(dataset: str):
    def q(spark, sf_dir):
        """Per-doc gold/pred/strict-TP counts on the reference's own
        annotated test split (ignores sf_dir — the input is the
        reference dataset, fixed scale). Spark side recomputes
        everything LIVE: JSON loader -> frozen reference-profile model
        UDF -> relational strict matching; the DuckDB oracle evaluates
        the same counts from fixtures frozen by
        tools/freeze_gold_eval.py — a hash match pins loader + model
        determinism + matching algebra."""
        from causalre_spark import gold_eval as G

        return G.per_doc_counts(spark, dataset)

    return q


def _sql_gold_eval(dataset: str) -> str:
    f = f"{_GOLD_FIX}/{dataset}"
    return f"""
WITH docs AS (SELECT doc_id FROM '{f}_docs.parquet'),
gs AS (SELECT url, "start", "end", "type" FROM '{f}_gold_spans.parquet'),
ps AS (SELECT url, "start", "end", "type" FROM '{f}_pred_spans.parquet'),
gr AS (SELECT url, h_start, h_end, t_start, t_end, rel_type FROM '{f}_gold_rels.parquet'),
pr AS (SELECT url, h_start, h_end, t_start, t_end, rel_type FROM '{f}_pred_rels.parquet'),
stp AS (SELECT url, count(*) AS span_tp
        FROM (SELECT DISTINCT * FROM gs) g
        JOIN (SELECT DISTINCT * FROM ps) p
        USING (url, "start", "end", "type")
        GROUP BY url),
rtp AS (SELECT url, count(*) AS rel_tp
        FROM (SELECT DISTINCT * FROM gr) g
        JOIN (SELECT DISTINCT * FROM pr) p
        USING (url, h_start, h_end, t_start, t_end, rel_type)
        GROUP BY url),
gsc AS (SELECT url, count(*) AS n FROM gs GROUP BY url),
psc AS (SELECT url, count(*) AS n FROM ps GROUP BY url),
grc AS (SELECT url, count(*) AS n FROM gr GROUP BY url),
prc AS (SELECT url, count(*) AS n FROM pr GROUP BY url)
SELECT d.doc_id,
       CAST(coalesce(gsc.n, 0) AS BIGINT) AS n_gold_spans,
       CAST(coalesce(psc.n, 0) AS BIGINT) AS n_pred_spans,
       CAST(coalesce(stp.span_tp, 0) AS BIGINT) AS span_tp,
       CAST(coalesce(grc.n, 0) AS BIGINT) AS n_gold_rels,
       CAST(coalesce(prc.n, 0) AS BIGINT) AS n_pred_rels,
       CAST(coalesce(rtp.rel_tp, 0) AS BIGINT) AS rel_tp
FROM docs d
LEFT JOIN gsc ON CAST(d.doc_id AS VARCHAR) = gsc.url
LEFT JOIN psc ON CAST(d.doc_id AS VARCHAR) = psc.url
LEFT JOIN stp ON CAST(d.doc_id AS VARCHAR) = stp.url
LEFT JOIN grc ON CAST(d.doc_id AS VARCHAR) = grc.url
LEFT JOIN prc ON CAST(d.doc_id AS VARCHAR) = prc.url
LEFT JOIN rtp ON CAST(d.doc_id AS VARCHAR) = rtp.url
"""


q_gold_eval_custom = _q_gold_eval("custom")
q_gold_eval_conll04 = _q_gold_eval("conll04")
SQL_GOLD_EVAL_CUSTOM = _sql_gold_eval("custom")
SQL_GOLD_EVAL_CONLL04 = _sql_gold_eval("conll04")


# --------------------------------------------------------------------------
# gazetteer extraction fitted on the reference train split (VERDICT r02
# missing #3: trained decision surfaces). Training is a groupBy on the
# train split; inference is a broadcast map-join on the test split; the
# whole fit+tag+eval chain is relational, so the DuckDB oracle recomputes
# it END-TO-END from frozen raw-split fixtures (tools/freeze_gazetteer.py)
# while Spark recomputes it live from the reference JSON.
# --------------------------------------------------------------------------

_GAZ_FIX = os.path.join(FIXTURES_DIR, "gazetteer")


def q_gazetteer_lexicon(spark, sf_dir):
    """Span lexicon fitted on the custom train split: (form, width,
    type, cnt), majority gold type per surface form (ties: type asc,
    width asc). Ignores sf_dir — input is the reference dataset."""
    from causalre_spark import gold_eval as G
    from causalre_spark.operators import gazetteer as GZ

    return GZ.fit_span_lexicon(G.load_gold_split(spark, "custom", "train"))


def q_gazetteer_spans(spark, sf_dir):
    """Gazetteer-tagged spans on the custom test split: candidates via
    width-bounded n-gram windows (first-token broadcast semi-join
    prune), broadcast lexicon match, one-shot dominance suppression."""
    from causalre_spark import gold_eval as G
    from causalre_spark.operators import gazetteer as GZ

    lex = GZ.fit_span_lexicon(G.load_gold_split(spark, "custom", "train"))
    return GZ.tag_spans(G.load_gold_split(spark, "custom", "test"), lex)


def _q_gazetteer_eval(dataset: str):
    def q(spark, sf_dir):
        """Strict span/rel P/R/F1 of the train-split-fitted gazetteer +
        rel-prior extractor on the gold test split (one row per task).
        Fully relational: counts fall out of one full-outer join per
        task (A1 single-action shape), metrics mirror strict_prf."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import gazetteer as GZ

        train = G.load_gold_split(spark, dataset, "train")
        test = G.load_gold_split(spark, dataset, "test")
        lex = GZ.fit_span_lexicon(train)
        # 3 consumers (span eval + both rel-pair sides): materialize the
        # tagged spans once as a local-rows frame (a few hundred rows) —
        # persist() here would leak a cached frame per invocation since
        # a returned-lazy-DataFrame query has nowhere to unpersist
        tagged = GZ.tag_spans(test, lex)
        pred_s = spark.createDataFrame(tagged.collect(), schema=tagged.schema)
        pred_r = GZ.predict_rels_triggers(
            pred_s, test, GZ.fit_rel_triggers(train),
            GZ.majority_rel_type(train))
        gold_s, gold_r = G.gold_span_table(test), G.gold_rel_table(test)

        def _counts(gold, pred, keys, task):
            g = gold.select(*keys).distinct().withColumn("_g", F.lit(1))
            p = pred.select(*keys).distinct().withColumn("_p", F.lit(1))
            return (
                g.join(p, keys, "full_outer")
                .agg(
                    F.sum(F.when(F.col("_g").isNotNull()
                                 & F.col("_p").isNotNull(), 1)
                          .otherwise(0)).alias("tp"),
                    F.sum(F.when(F.col("_g").isNull(), 1)
                          .otherwise(0)).alias("fp"),
                    F.sum(F.when(F.col("_p").isNull(), 1)
                          .otherwise(0)).alias("fn"))
                .select(F.lit(task).alias("task"), "tp", "fp", "fn"))

        m = _counts(gold_s, pred_s, ["url", "start", "end", "type"],
                    "span").unionByName(
            _counts(gold_r, pred_r,
                    ["url", "h_start", "h_end", "t_start", "t_end",
                     "rel_type"], "rel"))
        prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
        rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
        return m.select(
            "task", "tp", "fp", "fn",
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(2 * prec * rec
                    / F.greatest(prec + rec, F.lit(1e-12)), 6).alias("f1"))

    return q


q_gazetteer_eval_custom = _q_gazetteer_eval("custom")
q_gazetteer_eval_conll04 = _q_gazetteer_eval("conll04")


def _duck_gaz_chain(dataset: str) -> str:
    """CTE chain shared by the gazetteer oracles: lexicon fit on the
    frozen train split, candidate windows + dominance suppression on
    the frozen test split. Mirrors operators/gazetteer.py rule-for-rule
    (the Spark first-token prune is result-identical, so the oracle
    skips it)."""
    tr = f"{_GAZ_FIX}/{dataset}_train.parquet"
    te = f"{_GAZ_FIX}/{dataset}_test.parquet"
    return f"""
tr_sp AS (SELECT tokens, unnest(spans) AS s FROM '{tr}'),
forms AS (SELECT s."type" AS type,
                 CAST(s."end" - s."start" AS INTEGER) AS width,
                 array_to_string(tokens[s."start" + 1 : s."end"], ' ') AS form
          FROM tr_sp),
counts AS (SELECT form, width, type, count(*) AS cnt
           FROM forms GROUP BY 1, 2, 3),
lex AS (SELECT form, width, type, cnt FROM
          (SELECT *, row_number() OVER (PARTITION BY form
                     ORDER BY cnt DESC, type ASC, width ASC) AS rk
           FROM counts)
        WHERE rk = 1),
widths AS (SELECT DISTINCT width FROM lex),
te_docs AS (SELECT CAST(doc_id AS VARCHAR) AS url, tokens FROM '{te}'),
cands AS (SELECT x.url, CAST(x.i AS INTEGER) AS start,
                 CAST(x.i + x.width AS INTEGER) AS "end",
                 x.width AS width,
                 array_to_string(x.tokens[x.i + 1 : x.i + x.width],
                                 ' ') AS form
          FROM (SELECT d.url, d.tokens, w.width,
                       unnest(generate_series(
                           0, len(d.tokens) - w.width)) AS i
                FROM te_docs d CROSS JOIN widths w) x),
matched AS (SELECT c.url, c.start, c."end", c.width, l.type, l.cnt
            FROM cands c JOIN lex l USING (form, width)),
kept AS (SELECT m.url, m.start, m."end", m.type, m.cnt FROM matched m
         WHERE NOT EXISTS (SELECT 1 FROM matched o
            WHERE o.url = m.url AND m.start < o."end" AND o.start < m."end"
              AND NOT (o.start = m.start AND o."end" = m."end")
              AND (o.width > m.width
                   OR (o.width = m.width AND o.cnt > m.cnt)
                   OR (o.width = m.width AND o.cnt = m.cnt
                       AND o.start < m.start))))"""


SQL_GAZETTEER_LEXICON = f"""
WITH {_duck_gaz_chain('custom')}
SELECT form, width, type, cnt FROM lex
"""

SQL_GAZETTEER_SPANS = f"""
WITH {_duck_gaz_chain('custom')}
SELECT url, start, "end", type, cnt FROM kept
"""


def _sql_gaz_eval(dataset: str) -> str:
    tr = f"{_GAZ_FIX}/{dataset}_train.parquet"
    te = f"{_GAZ_FIX}/{dataset}_test.parquet"
    return f"""
WITH {_duck_gaz_chain(dataset)},
tr_gsp AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS url,
                  s."start" AS start, s."end" AS "end", s."type" AS type
           FROM (SELECT doc_id, unnest(spans) AS s FROM '{tr}')),
tr_docs AS (SELECT CAST(doc_id AS VARCHAR) AS url, tokens FROM '{tr}'),
tr_coords AS (SELECT DISTINCT url, start, "end" FROM tr_gsp),
gpairs AS (SELECT h.url, h.start AS h_start, h."end" AS h_end,
                  t.start AS t_start, t."end" AS t_end
           FROM tr_coords h JOIN tr_coords t ON h.url = t.url
             AND h."end" <= t.start),
tr_rels AS (SELECT CAST(doc_id AS VARCHAR) AS url,
                   spans[r.head + 1]."start" AS a_st,
                   spans[r.head + 1]."end" AS a_en,
                   spans[r.tail + 1]."start" AS b_st,
                   spans[r.tail + 1]."end" AS b_en,
                   r."type" AS rel_type
            FROM (SELECT doc_id, spans, unnest(relations) AS r
                  FROM '{tr}')),
und AS (SELECT DISTINCT url,
               CASE WHEN a_st <= b_st THEN a_st ELSE b_st END AS h_start,
               CASE WHEN a_st <= b_st THEN a_en ELSE b_en END AS h_end,
               CASE WHEN a_st <= b_st THEN b_st ELSE a_st END AS t_start,
               CASE WHEN a_st <= b_st THEN b_en ELSE a_en END AS t_end
        FROM tr_rels),
lab AS (SELECT p.url, p.h_end, p.t_start,
               CASE WHEN u.url IS NOT NULL THEN 1 ELSE 0 END AS label
        FROM gpairs p LEFT JOIN und u
          ON p.url = u.url AND p.h_start = u.h_start
         AND p.h_end = u.h_end AND p.t_start = u.t_start
         AND p.t_end = u.t_end),
btw AS (SELECT l.label,
               unnest(d.tokens[l.h_end + 1 : l.t_start]) AS w
        FROM lab l JOIN tr_docs d USING (url)),
trig AS (SELECT w FROM (SELECT w, count(*) AS n, sum(label) AS pos
                        FROM btw GROUP BY w)
         WHERE n >= 10 AND pos * 1.0 / n >= 0.3),
rtype AS (SELECT rel_type FROM
            (SELECT r."type" AS rel_type, count(*) AS c
             FROM (SELECT unnest(relations) AS r FROM '{tr}')
             GROUP BY 1 ORDER BY c DESC, rel_type ASC LIMIT 1)),
te_docs2 AS (SELECT CAST(doc_id AS VARCHAR) AS url, tokens
             FROM '{te}'),
cpairs AS (SELECT h.url, h.start AS h_start, h."end" AS h_end,
                  t.start AS t_start, t."end" AS t_end
           FROM kept h JOIN kept t ON h.url = t.url
             AND h."end" <= t.start AND t.start - h."end" <= 30),
predr AS (SELECT DISTINCT f.url, f.h_start, f.h_end, f.t_start,
                 f.t_end, (SELECT rel_type FROM rtype) AS rel_type
          FROM (SELECT c.url, c.h_start, c.h_end, c.t_start, c.t_end,
                       unnest(d.tokens[c.h_end + 1 : c.t_start]) AS w
                FROM cpairs c JOIN te_docs2 d USING (url)) f
          JOIN trig USING (w)),
te_gsp AS (SELECT CAST(doc_id AS VARCHAR) AS url, s."start" AS start,
                  s."end" AS "end", s."type" AS type
           FROM (SELECT doc_id, unnest(spans) AS s FROM '{te}')),
te_grel AS (SELECT CAST(doc_id AS VARCHAR) AS url,
                   spans[r.head + 1]."start" AS h_start,
                   spans[r.head + 1]."end" AS h_end,
                   spans[r.tail + 1]."start" AS t_start,
                   spans[r.tail + 1]."end" AS t_end,
                   r."type" AS rel_type
            FROM (SELECT doc_id, spans, unnest(relations) AS r
                  FROM '{te}')),
sg AS (SELECT DISTINCT url, start, "end", type FROM te_gsp),
sp AS (SELECT DISTINCT url, start, "end", type FROM kept),
rg AS (SELECT DISTINCT url, h_start, h_end, t_start, t_end, rel_type
       FROM te_grel),
rp AS (SELECT DISTINCT url, h_start, h_end, t_start, t_end, rel_type
       FROM predr),
sc AS (SELECT
  (SELECT count(*) FROM sg JOIN sp USING (url, start, "end", type)) AS tp,
  (SELECT count(*) FROM sp WHERE NOT EXISTS (SELECT 1 FROM sg
     WHERE sg.url = sp.url AND sg.start = sp.start
       AND sg."end" = sp."end" AND sg.type = sp.type)) AS fp,
  (SELECT count(*) FROM sg WHERE NOT EXISTS (SELECT 1 FROM sp
     WHERE sg.url = sp.url AND sg.start = sp.start
       AND sg."end" = sp."end" AND sg.type = sp.type)) AS fn),
rc AS (SELECT
  (SELECT count(*) FROM rg JOIN rp
     USING (url, h_start, h_end, t_start, t_end, rel_type)) AS tp,
  (SELECT count(*) FROM rp WHERE NOT EXISTS (SELECT 1 FROM rg
     WHERE rg.url = rp.url AND rg.h_start = rp.h_start
       AND rg.h_end = rp.h_end AND rg.t_start = rp.t_start
       AND rg.t_end = rp.t_end AND rg.rel_type = rp.rel_type)) AS fp,
  (SELECT count(*) FROM rg WHERE NOT EXISTS (SELECT 1 FROM rp
     WHERE rg.url = rp.url AND rg.h_start = rp.h_start
       AND rg.h_end = rp.h_end AND rg.t_start = rp.t_start
       AND rg.t_end = rp.t_end AND rg.rel_type = rp.rel_type)) AS fn),
m AS (SELECT 'span' AS task, tp, fp, fn FROM sc
      UNION ALL
      SELECT 'rel' AS task, tp, fp, fn FROM rc)
SELECT task, tp, fp, fn,
       round(tp / greatest(tp + fp, 1), 6) AS precision,
       round(tp / greatest(tp + fn, 1), 6) AS recall,
       round(2.0 * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1))
             / greatest(tp / greatest(tp + fp, 1)
                        + tp / greatest(tp + fn, 1), 1e-12), 6) AS f1
FROM m
"""


SQL_GAZETTEER_EVAL_CUSTOM = _sql_gaz_eval("custom")
SQL_GAZETTEER_EVAL_CONLL04 = _sql_gaz_eval("conll04")


# --------------------------------------------------------------------------
# fitted HMM span tagger + NB relation classifier (VERDICT r03 #1: lift
# gold-eval rel F1 off zero). Fit is pure aggregation on the train split,
# so the DuckDB oracles recompute the HMM counts table AND the whole NB
# weight fit + pair scoring + eval END-TO-END from the frozen raw splits
# (fixtures/gazetteer). The one non-relational step — per-doc Viterbi —
# is frozen to fixtures/fitted by tools/freeze_fitted.py (read back as a
# determinism pin; its independent correctness gate is the scalar-Python
# twin in tests/test_fitted.py, exact span-set equality).
# --------------------------------------------------------------------------

_FIT_FIX = os.path.join(FIXTURES_DIR, "fitted")


def _q_fitted_hmm_model(dataset: str):
    def q(spark, sf_dir):
        """Fitted HMM counts table (part, key, state, cnt) on the train
        split — emissions, shape backoff, transitions, init/final. The
        fit is one groupBy per part (operators/fitted.py fit_hmm); the
        oracle recomputes every count from the frozen raw split."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import fitted as FT

        return FT.fit_hmm(G.load_gold_fit_split(spark, dataset))

    return q


def _q_fitted_spans(dataset: str):
    def q(spark, sf_dir):
        """Viterbi-decoded spans of the test split under the live
        train-split fit (url, start, end). The oracle reads the frozen
        decode fixture: a hash match pins loader + fit + Arrow decode
        determinism; exactness of the decode itself is gated by the
        independent twin in tests/test_fitted.py."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import fitted as FT

        model = FT.collect_hmm_model(
            FT.fit_hmm(G.load_gold_fit_split(spark, dataset)))
        return FT.decode_spans(
            G.load_gold_split(spark, dataset, "test"), model)

    return q


def _q_fitted_rel_weights(dataset: str):
    def q(spark, sf_dir):
        """NB relation feature weights (kind, val, w_neg, w_fwd, w_bwd)
        fitted on train ∪ val — integer-grid log likelihood ratios
        (operators/fitted.py fit_rel_nb). Fully recomputed by the
        oracle: gold-span pair generation, fwd/bwd labeling, feature
        explosion, counting and quantization."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import fitted as FT

        w, _ = FT.fit_rel_nb(G.load_gold_fit_split(spark, dataset))
        return w

    return q


def _q_fitted_eval(dataset: str, tagger: str = "hmm"):
    def q(spark, sf_dir):
        """Strict span/rel P/R/F1 of a fitted span tagger + the NB
        relation classifier on the gold test split (one row per task) —
        the GOLD_EVAL.md headline rows. tagger='hmm' refits the
        HMM live (fit is pure aggregation); tagger='ptron' decodes under
        the frozen averaged-perceptron weights (the IPM fit is iterative
        — tools/freeze_perceptron.py). Spark recomputes decode + NB +
        eval live; the oracle recomputes everything except the Viterbi
        decode (frozen spans) in SQL."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import fitted as FT
        from causalre_spark.operators import gazetteer as GZ

        train = G.load_gold_fit_split(spark, dataset)
        test = G.load_gold_split(spark, dataset, "test")
        span_type = FT.majority_span_type(train)
        # materialize the decoded spans ONCE as a local-rows frame (a
        # few hundred rows — the k-means-centroid class of collect)
        # instead of persist(): three consumers follow and a persisted
        # cache would leak for the session lifetime (bench reruns)
        if tagger == "ptron":
            from causalre_spark.operators import perceptron as PT

            W, Wt = PT.load_frozen_weights(
                f"{_PT_FIX}/{dataset}_weights.parquet")
            decoded = PT.decode_spans(
                test, W, Wt, gaz=PT.frozen_gaz_for(dataset, _PT_FIX),
                extras=PT.SPAN_EXTRAS[dataset])
        else:
            model = FT.collect_hmm_model(FT.fit_hmm(train))
            decoded = FT.decode_spans(test, model)
        pred_u = spark.createDataFrame(
            decoded.collect(), schema=decoded.schema)
        pred_s = pred_u.crossJoin(F.broadcast(span_type))
        weights, priors = FT.fit_rel_nb(train)
        pred_r = FT.predict_rels_nb(pred_u, test, weights, priors,
                                    GZ.majority_rel_type(train))
        gold_s, gold_r = G.gold_span_table(test), G.gold_rel_table(test)
        return _strict_eval_rows(pred_s, pred_r, gold_s, gold_r)

    return q


def _strict_eval_rows(pred_s, pred_r, gold_s, gold_r) -> DataFrame:
    """(task, tp, fp, fn, precision, recall, f1) strict-match rows for a
    span table and a rel table — the shared tail of every fitted-model
    eval query (HMM+NB, perceptron+NB, all-perceptron)."""

    def _counts(gold, pred, keys, task):
        g = gold.select(*keys).distinct().withColumn("_g", F.lit(1))
        p = pred.select(*keys).distinct().withColumn("_p", F.lit(1))
        return (
            g.join(p, keys, "full_outer")
            .agg(
                F.sum(F.when(F.col("_g").isNotNull()
                             & F.col("_p").isNotNull(), 1)
                      .otherwise(0)).alias("tp"),
                F.sum(F.when(F.col("_g").isNull(), 1)
                      .otherwise(0)).alias("fp"),
                F.sum(F.when(F.col("_p").isNull(), 1)
                      .otherwise(0)).alias("fn"))
            .select(F.lit(task).alias("task"), "tp", "fp", "fn"))

    m = _counts(gold_s, pred_s, ["url", "start", "end", "type"],
                "span").unionByName(
        _counts(gold_r, pred_r,
                ["url", "h_start", "h_end", "t_start", "t_end",
                 "rel_type"], "rel"))
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return m.select(
        "task", "tp", "fp", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2 * prec * rec
                / F.greatest(prec + rec, F.lit(1e-12)), 6).alias("f1"))


q_fitted_hmm_model_custom = _q_fitted_hmm_model("custom")
q_fitted_hmm_model_conll04 = _q_fitted_hmm_model("conll04")
q_fitted_spans_custom = _q_fitted_spans("custom")
q_fitted_spans_conll04 = _q_fitted_spans("conll04")
q_fitted_rel_weights_custom = _q_fitted_rel_weights("custom")
q_fitted_rel_weights_conll04 = _q_fitted_rel_weights("conll04")
q_fitted_eval_custom = _q_fitted_eval("custom")
q_fitted_eval_conll04 = _q_fitted_eval("conll04")


# --------------------------------------------------------------------------
# averaged-perceptron span tagger (operators/perceptron.py): the
# discriminative rung above the HMM — same gold splits, same NB relation
# chain, weights fitted by exact scaled-integer IPM and frozen by
# tools/freeze_perceptron.py (the fit is iterative — not SQL). The
# decode runs LIVE under the frozen weights; its oracle pins the frozen
# decode fixture, and the eval oracle recomputes NB + eval end-to-end in
# SQL from the frozen spans (the exact _sql_fitted_eval chain).
# --------------------------------------------------------------------------

_PT_FIX = os.path.join(FIXTURES_DIR, "perceptron")


def _q_fitted_ptron_spans(dataset: str):
    def q(spark, sf_dir):
        """Perceptron-decoded spans of the gold test split under the
        frozen train∪val-fitted weights (url, start, end) — live
        mapInPandas Viterbi, zero shuffle. The oracle reads the frozen
        decode fixture (determinism pin); exactness of fit and decode
        is gated by the scalar twins in tests/test_perceptron.py."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import perceptron as PT

        W, Wt = PT.load_frozen_weights(
            f"{_PT_FIX}/{dataset}_weights.parquet")
        return PT.decode_spans(
            G.load_gold_split(spark, dataset, "test"), W, Wt,
            gaz=PT.frozen_gaz_for(dataset, _PT_FIX),
            extras=PT.SPAN_EXTRAS[dataset])

    return q


q_fitted_ptron_spans_custom = _q_fitted_ptron_spans("custom")
q_fitted_ptron_spans_conll04 = _q_fitted_ptron_spans("conll04")
q_fitted_ptron_eval_custom = _q_fitted_eval("custom", tagger="ptron")
q_fitted_ptron_eval_conll04 = _q_fitted_eval("conll04", tagger="ptron")


def _q_ptron_full_eval(dataset: str):
    def q(spark, sf_dir):
        """Strict span/rel P/R/F1 of the ALL-perceptron extractor:
        spans decoded live under the frozen span-perceptron weights,
        relations predicted live under the frozen rel-perceptron
        weights (multiclass averaged perceptron over the NB feature
        kinds + bias — operators/perceptron.py predict_rels_ptron).
        The oracle recomputes the whole INFERENCE chain in SQL (pair
        gen, features, weight sums, first-max argmax, eval) from the
        frozen spans + weights — only the iterative fits are frozen.
        Val selects this rel classifier over the NB on both datasets
        (rel F1 over predicted val spans; GOLD_EVAL.md)."""
        from causalre_spark import gold_eval as G
        from causalre_spark.operators import fitted as FT
        from causalre_spark.operators import gazetteer as GZ
        from causalre_spark.operators import perceptron as PT

        train = G.load_gold_fit_split(spark, dataset)
        test = G.load_gold_split(spark, dataset, "test")
        span_type = FT.majority_span_type(train)
        W, Wt = PT.load_frozen_weights(
            f"{_PT_FIX}/{dataset}_weights.parquet")
        decoded = PT.decode_spans(
            test, W, Wt, gaz=PT.frozen_gaz_for(dataset, _PT_FIX),
            extras=PT.SPAN_EXTRAS[dataset])
        pred_u = spark.createDataFrame(
            decoded.collect(), schema=decoded.schema)
        pred_s = pred_u.crossJoin(F.broadcast(span_type))
        rel_w = spark.read.parquet(
            f"{_PT_FIX}/{dataset}_rel_weights.parquet")
        pred_r = PT.predict_rels_ptron(pred_u, test, rel_w,
                                       GZ.majority_rel_type(train),
                                       extras=PT.REL_EXTRAS[dataset])
        gold_s, gold_r = G.gold_span_table(test), G.gold_rel_table(test)
        return _strict_eval_rows(pred_s, pred_r, gold_s, gold_r)

    return q


q_ptron_full_eval_custom = _q_ptron_full_eval("custom")
q_ptron_full_eval_conll04 = _q_ptron_full_eval("conll04")

# DuckDB twin of operators/fitted.py SHAPE_RULES — single source of
# truth lives next to the rules themselves (fitted.SHAPE_SQL_DUCK)
from causalre_spark.operators.fitted import SHAPE_SQL_DUCK as _DUCK_SHAPE  # noqa: E402
from causalre_spark.operators.fitted import SHAPE_SQL_DUCK_FMT as _DUCK_SHAPE_FMT  # noqa: E402
from causalre_spark.operators.fitted import MARGIN as _FT_MARGIN  # noqa: E402
from causalre_spark.operators.fitted import MIN_DF as _FT_MIN_DF  # noqa: E402
from causalre_spark.gold_eval import VAL_DOC_OFFSET as _G_VAL_OFF  # noqa: E402


def _duck_fit_src(dataset: str) -> str:
    """DuckDB subquery for the fitted extractors' FINAL fit split:
    train UNION val with val doc_ids offset into their own id space
    (gold_eval.VAL_DOC_OFFSET — split-local 0-based ids collide)."""
    tr = f"{_GAZ_FIX}/{dataset}_train.parquet"
    va = f"{_GAZ_FIX}/{dataset}_val.parquet"
    return (f"(SELECT doc_id, tokens, spans, relations FROM '{tr}' "
            f"UNION ALL "
            f"SELECT doc_id + {_G_VAL_OFF} AS doc_id, tokens, spans, relations "
            f"FROM '{va}')")


def _sql_fitted_hmm_model(dataset: str) -> str:
    tr = _duck_fit_src(dataset)
    return f"""
WITH pos AS (SELECT CAST(doc_id AS VARCHAR) AS url,
                    CAST(i - 1 AS INTEGER) AS pos, tokens[i] AS token,
                    len(tokens) AS n
             FROM (SELECT doc_id, tokens,
                          unnest(generate_series(1, len(tokens))) AS i
                   FROM {tr})),
slab AS (SELECT CAST(doc_id AS VARCHAR) AS url, sidx,
                s."start" AS s, s."end" AS e
         FROM (SELECT doc_id, unnest(spans) AS s,
                      unnest(generate_series(1, len(spans))) AS sidx
               FROM {tr})),
pl0 AS (SELECT url, sidx, s, e,
               unnest(generate_series(s, e - 1)) AS pos FROM slab),
pl1 AS (SELECT url, CAST(pos AS INTEGER) AS pos, sidx,
               CASE WHEN e - s = 1 THEN 'S'
                    WHEN pos = s THEN 'B'
                    WHEN pos = e - 1 THEN 'E'
                    ELSE 'I' END AS state FROM pl0),
best AS (SELECT url, pos, state FROM
           (SELECT *, row_number() OVER (PARTITION BY url, pos
                      ORDER BY sidx DESC) AS rk FROM pl1)
         WHERE rk = 1),
st AS (SELECT p.url, p.pos, p.token, coalesce(b.state, 'O') AS state, p.n
       FROM pos p LEFT JOIN best b USING (url, pos)),
em AS (SELECT 'em' AS part, token AS key, state, count(*) AS cnt
       FROM st GROUP BY token, state),
emsh AS (SELECT 'emsh' AS part, {_DUCK_SHAPE} AS key, state,
                count(*) AS cnt
         FROM st GROUP BY 2, state),
ctx AS (SELECT state,
               coalesce(lag(token) OVER (PARTITION BY url ORDER BY pos),
                        '<bos>') AS ptok,
               coalesce(lead(token) OVER (PARTITION BY url ORDER BY pos),
                        '<eos>') AS ntok
        FROM st),
emprev AS (SELECT 'emprev' AS part, ptok AS key, state, count(*) AS cnt
           FROM ctx GROUP BY ptok, state),
emnext AS (SELECT 'emnext' AS part, ntok AS key, state, count(*) AS cnt
           FROM ctx GROUP BY ntok, state),
empsh AS (SELECT 'empsh' AS part,
                 CASE WHEN ptok = '<bos>' THEN '<bos>'
                      ELSE {_DUCK_SHAPE_FMT.format(col="ptok")} END AS key,
                 state, count(*) AS cnt
          FROM ctx GROUP BY 2, state),
emnsh AS (SELECT 'emnsh' AS part,
                 CASE WHEN ntok = '<eos>' THEN '<eos>'
                      ELSE {_DUCK_SHAPE_FMT.format(col="ntok")} END AS key,
                 state, count(*) AS cnt
          FROM ctx GROUP BY 2, state),
trn AS (SELECT 'tr' AS part, prev AS key, state, count(*) AS cnt
        FROM (SELECT state,
                     lag(state) OVER (PARTITION BY url ORDER BY pos) AS prev
              FROM st)
        WHERE prev IS NOT NULL GROUP BY prev, state),
ini AS (SELECT 'init' AS part, '' AS key, state, count(*) AS cnt
        FROM st WHERE pos = 0 GROUP BY state),
fn_ AS (SELECT 'fin' AS part, '' AS key, state, count(*) AS cnt
        FROM st WHERE pos = n - 1 GROUP BY state)
SELECT part, key, state, CAST(cnt AS BIGINT) AS cnt FROM
  (SELECT * FROM em UNION ALL SELECT * FROM emsh
   UNION ALL SELECT * FROM emprev UNION ALL SELECT * FROM emnext
   UNION ALL SELECT * FROM empsh UNION ALL SELECT * FROM emnsh
   UNION ALL SELECT * FROM trn UNION ALL SELECT * FROM ini
   UNION ALL SELECT * FROM fn_)
"""


def _sql_fitted_spans(dataset: str) -> str:
    return (f"SELECT url, start, \"end\" "
            f"FROM '{_FIT_FIX}/{dataset}_pred_spans.parquet'")


def _duck_pair_feats(pairs_cte: str, docs_cte: str, out: str) -> str:
    """CTE block computing the distinct NB feature rows
    (url, h_start, h_end, t_start, t_end, kind, val) for a pair CTE —
    the DuckDB twin of operators/fitted.py pair_features (1-based
    indexing translated from the Python 0-based conventions)."""
    return f"""
{out}_j AS (SELECT p.*, d.tokens FROM {pairs_cte} p
            JOIN {docs_cte} d USING (url)),
{out} AS (
  SELECT DISTINCT url, h_start, h_end, t_start, t_end, kind, val FROM (
    SELECT url, h_start, h_end, t_start, t_end, 'gap' AS kind,
           CASE WHEN t_start - h_end < 6
                THEN CAST(t_start - h_end AS VARCHAR)
                WHEN t_start - h_end <= 10 THEN '10'
                WHEN t_start - h_end <= 20 THEN '20'
                ELSE '30' END AS val
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'btw',
           unnest(tokens[h_end + 1 : t_start])
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'btw2',
           unnest(list_transform(
               generate_series(h_end + 1, t_start - 1),
               i -> tokens[i] || ' ' || tokens[i + 1]))
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'first',
           CASE WHEN t_start > h_end THEN tokens[h_end + 1]
                ELSE '<adj>' END
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'pre',
           CASE WHEN h_start > 0 THEN tokens[h_start] ELSE '<bos>' END
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'post',
           CASE WHEN t_end < len(tokens) THEN tokens[t_end + 1]
                ELSE '<eos>' END
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'last',
           CASE WHEN t_start > h_end THEN tokens[t_start]
                ELSE '<adj>' END
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'hl', tokens[h_end]
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'tl', tokens[t_end]
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'hlsh',
           {_DUCK_SHAPE_FMT.format(col="tokens[h_end]")}
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'tlsh',
           {_DUCK_SHAPE_FMT.format(col="tokens[t_end]")}
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'hw',
           CAST(least(h_end - h_start, 8) AS VARCHAR)
    FROM {out}_j
    UNION ALL
    SELECT url, h_start, h_end, t_start, t_end, 'tw',
           CAST(least(t_end - t_start, 8) AS VARCHAR)
    FROM {out}_j))"""


def _duck_rel_nb_chain(dataset: str) -> str:
    """CTE chain: NB relation fit on the frozen train ∪ val splits
    (the final-model fit split; selection happened on val) — labeled
    gold-span pairs, feature counts, integer-grid weights + priors.
    Twin of operators/fitted.py fit_rel_nb."""
    tr = _duck_fit_src(dataset)
    g = "0.3141592653589793"
    w = (lambda n, c: f"CAST(floor(1000.0 * ln(({n} + 1.0) / ({c} + 2.0))"
         f" + {g}) AS BIGINT)")
    return f"""
ftr_docs AS (SELECT CAST(doc_id AS VARCHAR) AS url, tokens FROM {tr}),
ftr_sp AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS url,
                  s."start" AS start, s."end" AS "end"
           FROM (SELECT doc_id, unnest(spans) AS s FROM {tr})),
ftr_pairs AS (SELECT h.url, h.start AS h_start, h."end" AS h_end,
                     t.start AS t_start, t."end" AS t_end
              FROM ftr_sp h JOIN ftr_sp t ON h.url = t.url
                AND h."end" <= t.start AND t.start - h."end" <= 30),
ftr_rels AS (SELECT CAST(doc_id AS VARCHAR) AS url,
                    spans[r.head + 1]."start" AS a_st,
                    spans[r.head + 1]."end" AS a_en,
                    spans[r.tail + 1]."start" AS b_st,
                    spans[r.tail + 1]."end" AS b_en
             FROM (SELECT doc_id, spans, unnest(relations) AS r
                   FROM {tr})),
forient AS (SELECT url, h_start, h_end, t_start, t_end, min(y) AS y FROM
              (SELECT url,
                 CASE WHEN a_st <= b_st THEN a_st ELSE b_st END AS h_start,
                 CASE WHEN a_st <= b_st THEN a_en ELSE b_en END AS h_end,
                 CASE WHEN a_st <= b_st THEN b_st ELSE a_st END AS t_start,
                 CASE WHEN a_st <= b_st THEN b_en ELSE a_en END AS t_end,
                 CASE WHEN a_st <= b_st THEN 1 ELSE 2 END AS y
               FROM ftr_rels)
            GROUP BY 1, 2, 3, 4, 5),
flab AS (SELECT p.*, coalesce(o.y, 0) AS y
         FROM ftr_pairs p LEFT JOIN forient o
         USING (url, h_start, h_end, t_start, t_end)),
{_duck_pair_feats('ftr_pairs', 'ftr_docs', 'ffeat_tr')},
fcounts AS (SELECT kind, val,
                   sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n_neg,
                   sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n_fwd,
                   sum(CASE WHEN y = 2 THEN 1 ELSE 0 END) AS n_bwd
            FROM ffeat_tr f JOIN flab l
            USING (url, h_start, h_end, t_start, t_end)
            GROUP BY kind, val),
fcls AS (SELECT sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c_neg,
                sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c_fwd,
                sum(CASE WHEN y = 2 THEN 1 ELSE 0 END) AS c_bwd
         FROM flab),
fweights AS (SELECT kind, val,
                    {w('n_neg', 'c_neg')} AS w_neg,
                    {w('n_fwd', 'c_fwd')} AS w_fwd,
                    {w('n_bwd', 'c_bwd')} AS w_bwd
             FROM fcounts, fcls
             WHERE n_neg + n_fwd + n_bwd >= {_FT_MIN_DF}),
fpriors AS (SELECT
    {w('c_neg', 'c_neg + c_fwd + c_bwd + 1.0')} AS p_neg,
    {w('c_fwd', 'c_neg + c_fwd + c_bwd + 1.0')} AS p_fwd,
    {w('c_bwd', 'c_neg + c_fwd + c_bwd + 1.0')} AS p_bwd
  FROM fcls)"""


def _sql_fitted_rel_weights(dataset: str) -> str:
    return f"""
WITH {_duck_rel_nb_chain(dataset)}
SELECT kind, val, w_neg, w_fwd, w_bwd FROM fweights
"""


def _sql_fitted_eval(dataset: str, fix_dir: str = _FIT_FIX) -> str:
    te = f"{_GAZ_FIX}/{dataset}_test.parquet"
    tr = _duck_fit_src(dataset)
    fx = f"{fix_dir}/{dataset}_pred_spans.parquet"
    return f"""
WITH {_duck_rel_nb_chain(dataset)},
fte_docs AS (SELECT CAST(doc_id AS VARCHAR) AS url, tokens FROM '{te}'),
fpx AS (SELECT url, start, "end" FROM '{fx}'),
fcpairs AS (SELECT h.url, h.start AS h_start, h."end" AS h_end,
                   t.start AS t_start, t."end" AS t_end
            FROM fpx h JOIN fpx t ON h.url = t.url
              AND h."end" <= t.start AND t.start - h."end" <= 30),
{_duck_pair_feats('fcpairs', 'fte_docs', 'ffeat_te')},
fsums AS (SELECT url, h_start, h_end, t_start, t_end,
                 sum(w_neg) AS s_neg, sum(w_fwd) AS s_fwd,
                 sum(w_bwd) AS s_bwd
          FROM ffeat_te JOIN fweights USING (kind, val)
          GROUP BY 1, 2, 3, 4, 5),
fscored AS (SELECT c.url, c.h_start, c.h_end, c.t_start, c.t_end,
                   coalesce(s.s_neg, 0) + p.p_neg AS t_neg,
                   coalesce(s.s_fwd, 0) + p.p_fwd AS t_fwd,
                   coalesce(s.s_bwd, 0) + p.p_bwd AS t_bwd
            FROM fcpairs c LEFT JOIN fsums s
            USING (url, h_start, h_end, t_start, t_end)
            CROSS JOIN fpriors p),
frtype AS (SELECT rel_type FROM
             (SELECT r."type" AS rel_type, count(*) AS c
              FROM (SELECT unnest(relations) AS r FROM {tr})
              GROUP BY 1 ORDER BY c DESC, rel_type ASC LIMIT 1)),
fstype AS (SELECT type FROM
             (SELECT s."type" AS type, count(*) AS c
              FROM (SELECT unnest(spans) AS s FROM {tr})
              GROUP BY 1 ORDER BY c DESC, type ASC LIMIT 1)),
fpredr AS (SELECT url,
                  CASE WHEN t_fwd > t_neg + {_FT_MARGIN} AND t_fwd >= t_bwd
                       THEN h_start ELSE t_start END AS h_start,
                  CASE WHEN t_fwd > t_neg + {_FT_MARGIN} AND t_fwd >= t_bwd
                       THEN h_end ELSE t_end END AS h_end,
                  CASE WHEN t_fwd > t_neg + {_FT_MARGIN} AND t_fwd >= t_bwd
                       THEN t_start ELSE h_start END AS t_start,
                  CASE WHEN t_fwd > t_neg + {_FT_MARGIN} AND t_fwd >= t_bwd
                       THEN t_end ELSE h_end END AS t_end,
                  (SELECT rel_type FROM frtype) AS rel_type
           FROM fscored
           WHERE (t_fwd > t_neg + {_FT_MARGIN} AND t_fwd >= t_bwd)
              OR (t_bwd > t_neg + {_FT_MARGIN} AND t_bwd > t_fwd)),
fte_gsp AS (SELECT CAST(doc_id AS VARCHAR) AS url, s."start" AS start,
                   s."end" AS "end", s."type" AS type
            FROM (SELECT doc_id, unnest(spans) AS s FROM '{te}')),
fte_grel AS (SELECT CAST(doc_id AS VARCHAR) AS url,
                    spans[r.head + 1]."start" AS h_start,
                    spans[r.head + 1]."end" AS h_end,
                    spans[r.tail + 1]."start" AS t_start,
                    spans[r.tail + 1]."end" AS t_end,
                    r."type" AS rel_type
             FROM (SELECT doc_id, spans, unnest(relations) AS r
                   FROM '{te}')),
fsg AS (SELECT DISTINCT url, start, "end", type FROM fte_gsp),
fsp AS (SELECT DISTINCT url, start, "end",
               (SELECT type FROM fstype) AS type FROM fpx),
frg AS (SELECT DISTINCT url, h_start, h_end, t_start, t_end, rel_type
        FROM fte_grel),
frp AS (SELECT DISTINCT url, h_start, h_end, t_start, t_end, rel_type
        FROM fpredr),
fsc AS (SELECT
  (SELECT count(*) FROM fsg JOIN fsp
     USING (url, start, "end", type)) AS tp,
  (SELECT count(*) FROM fsp WHERE NOT EXISTS (SELECT 1 FROM fsg
     WHERE fsg.url = fsp.url AND fsg.start = fsp.start
       AND fsg."end" = fsp."end" AND fsg.type = fsp.type)) AS fp,
  (SELECT count(*) FROM fsg WHERE NOT EXISTS (SELECT 1 FROM fsp
     WHERE fsg.url = fsp.url AND fsg.start = fsp.start
       AND fsg."end" = fsp."end" AND fsg.type = fsp.type)) AS fn),
frc AS (SELECT
  (SELECT count(*) FROM frg JOIN frp
     USING (url, h_start, h_end, t_start, t_end, rel_type)) AS tp,
  (SELECT count(*) FROM frp WHERE NOT EXISTS (SELECT 1 FROM frg
     WHERE frg.url = frp.url AND frg.h_start = frp.h_start
       AND frg.h_end = frp.h_end AND frg.t_start = frp.t_start
       AND frg.t_end = frp.t_end AND frg.rel_type = frp.rel_type)) AS fp,
  (SELECT count(*) FROM frg WHERE NOT EXISTS (SELECT 1 FROM frp
     WHERE frg.url = frp.url AND frg.h_start = frp.h_start
       AND frg.h_end = frp.h_end AND frg.t_start = frp.t_start
       AND frg.t_end = frp.t_end AND frg.rel_type = frp.rel_type)) AS fn),
fm AS (SELECT 'span' AS task, tp, fp, fn FROM fsc
       UNION ALL
       SELECT 'rel' AS task, tp, fp, fn FROM frc)
SELECT task, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(tp / greatest(tp + fp, 1), 6) AS precision,
       round(tp / greatest(tp + fn, 1), 6) AS recall,
       round(2.0 * (tp / greatest(tp + fp, 1))
             * (tp / greatest(tp + fn, 1))
             / greatest(tp / greatest(tp + fp, 1)
                        + tp / greatest(tp + fn, 1), 1e-12), 6) AS f1
FROM fm
"""


SQL_FITTED_HMM_MODEL_CUSTOM = _sql_fitted_hmm_model("custom")
SQL_FITTED_HMM_MODEL_CONLL04 = _sql_fitted_hmm_model("conll04")
SQL_FITTED_SPANS_CUSTOM = _sql_fitted_spans("custom")
SQL_FITTED_SPANS_CONLL04 = _sql_fitted_spans("conll04")
SQL_FITTED_REL_WEIGHTS_CUSTOM = _sql_fitted_rel_weights("custom")
SQL_FITTED_REL_WEIGHTS_CONLL04 = _sql_fitted_rel_weights("conll04")
SQL_FITTED_EVAL_CUSTOM = _sql_fitted_eval("custom")
SQL_FITTED_EVAL_CONLL04 = _sql_fitted_eval("conll04")
SQL_FITTED_PTRON_SPANS_CUSTOM = (
    f"SELECT url, start, \"end\" "
    f"FROM '{_PT_FIX}/custom_pred_spans.parquet'")
SQL_FITTED_PTRON_SPANS_CONLL04 = (
    f"SELECT url, start, \"end\" "
    f"FROM '{_PT_FIX}/conll04_pred_spans.parquet'")
SQL_FITTED_PTRON_EVAL_CUSTOM = _sql_fitted_eval("custom", fix_dir=_PT_FIX)
SQL_FITTED_PTRON_EVAL_CONLL04 = _sql_fitted_eval("conll04", fix_dir=_PT_FIX)


def _duck_extra_feats(extras: tuple, j: str) -> str:
    """SQL UNION blocks for the rel-perceptron's val-selected extra
    feature kinds (perceptron.REL_EXTRAS) over a pairs-join-docs CTE
    ``j`` — the DuckDB twin of fitted.pair_features(extra_kinds=...).
    Returns '' when the dataset selected no extras. hbow/tbow can
    repeat a token inside a span, so the block re-applies DISTINCT."""
    from causalre_spark.operators.perceptron import (
        PTRON_SHAPE_SQL_DUCK_FMT as _PSH)

    key = "url, h_start, h_end, t_start, t_end"
    parts = []
    if "fl" in extras:
        parts.append(
            f"SELECT {key}, 'fl' AS kind, "
            "CASE WHEN t_start > h_end THEN tokens[h_end + 1] || '|' "
            "|| tokens[t_start] ELSE '<adj>|<adj>' END AS val "
            f"FROM {j}")
    # every branch aliases kind/val: the first branch of the UNION
    # names the columns, and ANY kind can be first (fl is no longer
    # guaranteed present — conll04 dropped it in the round-4 re-sweep)
    if "hltl" in extras:
        parts.append(
            f"SELECT {key}, 'hltl' AS kind, tokens[h_end] || '|' || "
            f"tokens[t_end] AS val FROM {j}")
    if "hfsh" in extras:
        parts.append(
            f"SELECT {key}, 'hfsh' AS kind, "
            + _PSH.format(col="tokens[h_start + 1]")
            + f" AS val FROM {j}")
        parts.append(
            f"SELECT {key}, 'tfsh' AS kind, "
            + _PSH.format(col="tokens[t_start + 1]")
            + f" AS val FROM {j}")
    if "hf" in extras:
        parts.append(
            f"SELECT {key}, 'hf' AS kind, "
            f"tokens[h_start + 1] AS val FROM {j}")
    if "tf" in extras:
        parts.append(
            f"SELECT {key}, 'tf' AS kind, "
            f"tokens[t_start + 1] AS val FROM {j}")
    if "hbow" in extras:
        parts.append(
            f"SELECT {key}, 'hbow' AS kind, "
            f"unnest(tokens[h_start + 1 : h_end]) AS val FROM {j}")
    if "tbow" in extras:
        parts.append(
            f"SELECT {key}, 'tbow' AS kind, "
            f"unnest(tokens[t_start + 1 : t_end]) AS val FROM {j}")
    if not parts:
        return ""
    inner = "\n          UNION ALL\n          ".join(parts)
    return (f"\n          UNION ALL\n          SELECT DISTINCT "
            f"{key}, kind, val FROM (\n          {inner})")


def _sql_ptron_full_eval(dataset: str) -> str:
    """All-perceptron eval oracle: spans from the frozen decode fixture,
    relations recomputed END-TO-END in SQL from the frozen rel-weights
    parquet (pair gen -> _duck_pair_feats + the dataset's REL_EXTRAS
    kinds + bias -> weight sums -> first-max argmax with the
    lower-class tie rule), then the strict span/rel eval — the same
    tail as _sql_fitted_eval. Only the two iterative FITS are frozen;
    every inference step is recomputed."""
    from causalre_spark.operators.perceptron import REL_EXTRAS

    te = f"{_GAZ_FIX}/{dataset}_test.parquet"
    tr = _duck_fit_src(dataset)
    fx = f"{_PT_FIX}/{dataset}_pred_spans.parquet"
    wx = f"{_PT_FIX}/{dataset}_rel_weights.parquet"
    return f"""
WITH fte_docs AS (SELECT CAST(doc_id AS VARCHAR) AS url, tokens
                  FROM '{te}'),
fpx AS (SELECT url, start, "end" FROM '{fx}'),
fcpairs AS (SELECT h.url, h.start AS h_start, h."end" AS h_end,
                   t.start AS t_start, t."end" AS t_end
            FROM fpx h JOIN fpx t ON h.url = t.url
              AND h."end" <= t.start AND t.start - h."end" <= 30),
{_duck_pair_feats('fcpairs', 'fte_docs', 'ffeat_te')},
ffeat AS (SELECT * FROM ffeat_te
          UNION ALL
          SELECT url, h_start, h_end, t_start, t_end,
                 'bias' AS kind, '' AS val
          FROM fcpairs{_duck_extra_feats(REL_EXTRAS[dataset],
                                         'ffeat_te_j')}),
fw AS (SELECT kind, val, w_neg, w_fwd, w_bwd FROM '{wx}'),
fsums AS (SELECT url, h_start, h_end, t_start, t_end,
                 sum(w_neg) AS s_neg, sum(w_fwd) AS s_fwd,
                 sum(w_bwd) AS s_bwd
          FROM ffeat JOIN fw USING (kind, val)
          GROUP BY 1, 2, 3, 4, 5),
fscored AS (SELECT c.url, c.h_start, c.h_end, c.t_start, c.t_end,
                   coalesce(s.s_neg, 0) AS t_neg,
                   coalesce(s.s_fwd, 0) AS t_fwd,
                   coalesce(s.s_bwd, 0) AS t_bwd
            FROM fcpairs c LEFT JOIN fsums s
            USING (url, h_start, h_end, t_start, t_end)),
frtype AS (SELECT rel_type FROM
             (SELECT r."type" AS rel_type, count(*) AS c
              FROM (SELECT unnest(relations) AS r FROM {tr})
              GROUP BY 1 ORDER BY c DESC, rel_type ASC LIMIT 1)),
fstype AS (SELECT type FROM
             (SELECT s."type" AS type, count(*) AS c
              FROM (SELECT unnest(spans) AS s FROM {tr})
              GROUP BY 1 ORDER BY c DESC, type ASC LIMIT 1)),
fpredr AS (SELECT url,
                  CASE WHEN t_fwd > t_neg AND t_fwd >= t_bwd
                       THEN h_start ELSE t_start END AS h_start,
                  CASE WHEN t_fwd > t_neg AND t_fwd >= t_bwd
                       THEN h_end ELSE t_end END AS h_end,
                  CASE WHEN t_fwd > t_neg AND t_fwd >= t_bwd
                       THEN t_start ELSE h_start END AS t_start,
                  CASE WHEN t_fwd > t_neg AND t_fwd >= t_bwd
                       THEN t_end ELSE h_end END AS t_end,
                  (SELECT rel_type FROM frtype) AS rel_type
           FROM fscored
           WHERE (t_fwd > t_neg AND t_fwd >= t_bwd)
              OR (t_bwd > t_neg AND t_bwd > t_fwd)),
fte_gsp AS (SELECT CAST(doc_id AS VARCHAR) AS url, s."start" AS start,
                   s."end" AS "end", s."type" AS type
            FROM (SELECT doc_id, unnest(spans) AS s FROM '{te}')),
fte_grel AS (SELECT CAST(doc_id AS VARCHAR) AS url,
                    spans[r.head + 1]."start" AS h_start,
                    spans[r.head + 1]."end" AS h_end,
                    spans[r.tail + 1]."start" AS t_start,
                    spans[r.tail + 1]."end" AS t_end,
                    r."type" AS rel_type
             FROM (SELECT doc_id, spans, unnest(relations) AS r
                   FROM '{te}')),
fsg AS (SELECT DISTINCT url, start, "end", type FROM fte_gsp),
fsp AS (SELECT DISTINCT url, start, "end",
               (SELECT type FROM fstype) AS type FROM fpx),
frg AS (SELECT DISTINCT url, h_start, h_end, t_start, t_end, rel_type
        FROM fte_grel),
frp AS (SELECT DISTINCT url, h_start, h_end, t_start, t_end, rel_type
        FROM fpredr),
fsc AS (SELECT
  (SELECT count(*) FROM fsg JOIN fsp
     USING (url, start, "end", type)) AS tp,
  (SELECT count(*) FROM fsp WHERE NOT EXISTS (SELECT 1 FROM fsg
     WHERE fsg.url = fsp.url AND fsg.start = fsp.start
       AND fsg."end" = fsp."end" AND fsg.type = fsp.type)) AS fp,
  (SELECT count(*) FROM fsg WHERE NOT EXISTS (SELECT 1 FROM fsp
     WHERE fsg.url = fsp.url AND fsg.start = fsp.start
       AND fsg."end" = fsp."end" AND fsg.type = fsp.type)) AS fn),
frc AS (SELECT
  (SELECT count(*) FROM frg JOIN frp
     USING (url, h_start, h_end, t_start, t_end, rel_type)) AS tp,
  (SELECT count(*) FROM frp WHERE NOT EXISTS (SELECT 1 FROM frg
     WHERE frg.url = frp.url AND frg.h_start = frp.h_start
       AND frg.h_end = frp.h_end AND frg.t_start = frp.t_start
       AND frg.t_end = frp.t_end AND frg.rel_type = frp.rel_type)) AS fp,
  (SELECT count(*) FROM frg WHERE NOT EXISTS (SELECT 1 FROM frp
     WHERE frg.url = frp.url AND frg.h_start = frp.h_start
       AND frg.h_end = frp.h_end AND frg.t_start = frp.t_start
       AND frg.t_end = frp.t_end AND frg.rel_type = frp.rel_type)) AS fn),
fm AS (SELECT 'span' AS task, tp, fp, fn FROM fsc
       UNION ALL
       SELECT 'rel' AS task, tp, fp, fn FROM frc)
SELECT task, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(tp / greatest(tp + fp, 1), 6) AS precision,
       round(tp / greatest(tp + fn, 1), 6) AS recall,
       round(2.0 * (tp / greatest(tp + fp, 1))
             * (tp / greatest(tp + fn, 1))
             / greatest(tp / greatest(tp + fp, 1)
                        + tp / greatest(tp + fn, 1), 1e-12), 6) AS f1
FROM fm
"""


SQL_PTRON_FULL_EVAL_CUSTOM = _sql_ptron_full_eval("custom")
SQL_PTRON_FULL_EVAL_CONLL04 = _sql_ptron_full_eval("conll04")


# DuckDB fragments of the curation_verdict oracle: normalized distinct
# word 4-grams per doc (the duck twin of dedup.word_ngram_hashes(n=4)'s
# grams), each doc's cross-doc duplicated-gram stats, and its gram
# overlap with the doc_id % 97 == 0 benchmark slice
_DUCK_SH4_CTE = f"""
norm AS (SELECT doc_id AS id, string_split({NORMALIZE_SQL_DUCK.format(x="text")}, ' ') AS toks
         FROM documents),
sh AS (SELECT DISTINCT id, array_to_string(toks[i:i+3], ' ') AS shingle
       FROM (SELECT id, toks,
                    unnest(generate_series(1, greatest(1, len(toks) - 3))) AS i
             FROM norm) q)
"""


_SQL_GRAM_DUPS = f"""
WITH {_DUCK_SH4_CTE},
g AS (SELECT id, {md5_long_sql("shingle")} AS gh FROM sh),
cnt AS (SELECT gh, count(*) AS n_docs FROM g GROUP BY gh)
SELECT g.id AS doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), 4) AS dup_frac
FROM g JOIN cnt c ON g.gh = c.gh
GROUP BY g.id
"""


_SQL_GRAM_OVERLAP = f"""
WITH {_DUCK_SH4_CTE},
bench AS (SELECT DISTINCT {md5_long_sql("shingle")} AS gh FROM sh WHERE id % 97 = 0),
g AS (SELECT id, {md5_long_sql("shingle")} AS gh FROM sh WHERE id % 97 <> 0),
per AS (SELECT g.id, count(*) AS n_grams,
               CAST(sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
        FROM g LEFT JOIN bench b ON g.gh = b.gh
        GROUP BY g.id)
SELECT id AS doc_id, n_grams, n_overlap,
       round(n_overlap / n_grams, 4) AS overlap_frac,
       round(n_overlap / n_grams, 4) > 0.5 AS contaminated
FROM per
"""


def curation_verdict(docs: DataFrame) -> DataFrame:
    """The composite per-doc curation decision a production corpus
    pipeline materializes before training: quality gate (5dp composite
    score), Gopher repetition gate, cross-doc duplicated-ngram gate,
    and benchmark-contamination gate, each as an explicit reason flag
    plus the final `keep` — so downstream can both filter and audit WHY
    a doc was dropped. Docs with doc_id % 97 == 0 are the benchmark
    slice; the verdict covers the others. Thresholds
    chosen to split the synthetic corpus non-vacuously (lowq ~10%, dup
    ~10%, repetitive ~2%; contamination is all-clear on this corpus,
    which is itself the common real-world outcome).

    Scale shape: two hash exchanges and no join.
      - One per-doc projection over the spread docs: quality_scores ->
        repetition_stats (both pure projections, chained through
        extra_cols) -> the two row flags and the distinct word-4-gram
        rows (dedup.word_ngram_hashes, one row per (doc, gram hash)).
      - Exchange 1, on gh: a window count of the docs holding each
        gram and whether a benchmark doc holds it. A hot boilerplate
        gram is one large window partition, which sorts and spills; no
        skewed join back, no broadcast, no collect_list.
      - Exchange 2, on doc_id: the eval docs' gram rows fold into
        n_grams, n_dup and n_overlap next to the carried row flags.
    Equal to the join of the four per-signal tables (quality,
    repetition, duplicated grams, benchmark overlap), which is what the
    DuckDB oracle computes."""
    docs = spread(docs)
    q = textstats.quality_scores(docs, extra_cols=("text",))
    r = textstats.repetition_stats(q, extra_cols=("quality_score", "text"))
    flags = r.select(
        "doc_id", "text",
        (F.col("quality_score") < 0.72).alias("flag_lowq"),
        (~F.col("keep")).alias("flag_repetitive"),
    )
    w = Window.partitionBy("gh")
    grams = (
        dedup.word_ngram_hashes(flags, n=4,
                                extra_cols=("flag_lowq", "flag_repetitive"))
        .select("doc_id", "flag_lowq", "flag_repetitive",
                F.count(F.lit(1)).over(w).alias("n_docs"),
                F.max(F.col("doc_id") % 97 == 0).over(w).alias("in_bench"))
    )
    per_doc = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .groupBy("doc_id")
        .agg(
            F.max("flag_lowq").alias("flag_lowq"),
            F.max("flag_repetitive").alias("flag_repetitive"),
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("n_docs") >= 2).alias("n_dup"),
            F.count_if("in_bench").alias("n_overlap"),
        )
    )
    dup_frac = F.round(F.col("n_dup") / F.col("n_grams"), 4)
    overlap_frac = F.round(F.col("n_overlap") / F.col("n_grams"), 4)
    return (
        per_doc.select(
            "doc_id", "flag_lowq", "flag_repetitive",
            (dup_frac > 0.15).alias("flag_dup"),
            (overlap_frac > 0.5).alias("flag_contaminated"),
        )
        .withColumn("keep", ~(F.col("flag_lowq") | F.col("flag_repetitive")
                              | F.col("flag_dup") | F.col("flag_contaminated")))
    )


def q_curation_verdict(spark, sf_dir):
    """curation_verdict over the documents table."""
    return curation_verdict(_t(spark, sf_dir, "documents"))


SQL_CURATION_VERDICT = f"""
WITH q AS (SELECT doc_id, quality_score FROM ({SQL_TEXT_QUALITY}) x),
r AS (SELECT doc_id, keep FROM ({SQL_TEXT_REPETITION}) x),
cd AS (SELECT doc_id, dup_frac FROM ({_SQL_GRAM_DUPS}) x),
ct AS (SELECT doc_id, contaminated FROM ({_SQL_GRAM_OVERLAP}) x)
SELECT q.doc_id,
       (q.quality_score < 0.72) AS flag_lowq,
       (NOT r.keep) AS flag_repetitive,
       (cd.dup_frac > 0.15) AS flag_dup,
       ct.contaminated AS flag_contaminated,
       NOT ((q.quality_score < 0.72) OR (NOT r.keep)
            OR (cd.dup_frac > 0.15) OR ct.contaminated) AS keep
FROM q
JOIN r ON q.doc_id = r.doc_id
JOIN cd ON q.doc_id = cd.doc_id
JOIN ct ON q.doc_id = ct.doc_id
WHERE q.doc_id % 97 <> 0
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # curation operators (the two perfbench curation_ops queries)
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "curation_verdict": q_curation_verdict,
    # gold-data eval on the reference's own test splits (ignores sf_dir)
    "gold_eval_custom": q_gold_eval_custom,
    "gold_eval_conll04": q_gold_eval_conll04,
    # gazetteer extractor fitted on the reference train split
    "gazetteer_lexicon": q_gazetteer_lexicon,
    "gazetteer_spans": q_gazetteer_spans,
    "gazetteer_eval_custom": q_gazetteer_eval_custom,
    "gazetteer_eval_conll04": q_gazetteer_eval_conll04,
    # fitted HMM span tagger + NB relation classifier (train-split fit)
    "fitted_hmm_model_custom": q_fitted_hmm_model_custom,
    "fitted_hmm_model_conll04": q_fitted_hmm_model_conll04,
    "fitted_spans_custom": q_fitted_spans_custom,
    "fitted_spans_conll04": q_fitted_spans_conll04,
    "fitted_rel_weights_custom": q_fitted_rel_weights_custom,
    "fitted_rel_weights_conll04": q_fitted_rel_weights_conll04,
    "fitted_eval_custom": q_fitted_eval_custom,
    "fitted_eval_conll04": q_fitted_eval_conll04,
    "fitted_ptron_spans_custom": q_fitted_ptron_spans_custom,
    "fitted_ptron_spans_conll04": q_fitted_ptron_spans_conll04,
    "fitted_ptron_eval_custom": q_fitted_ptron_eval_custom,
    "fitted_ptron_eval_conll04": q_fitted_ptron_eval_conll04,
    "ptron_full_eval_custom": q_ptron_full_eval_custom,
    "ptron_full_eval_conll04": q_ptron_full_eval_conll04,
    # flagship pages -> triples (causal_triples is rows-only)
    "causal_triples": q_causal_triples,
    "causal_triples_seeded": q_causal_triples_seeded,
}

ORACLES: dict[str, str] = {
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "curation_verdict": SQL_CURATION_VERDICT,
    "gold_eval_custom": SQL_GOLD_EVAL_CUSTOM,
    "gold_eval_conll04": SQL_GOLD_EVAL_CONLL04,
    "gazetteer_lexicon": SQL_GAZETTEER_LEXICON,
    "gazetteer_spans": SQL_GAZETTEER_SPANS,
    "gazetteer_eval_custom": SQL_GAZETTEER_EVAL_CUSTOM,
    "gazetteer_eval_conll04": SQL_GAZETTEER_EVAL_CONLL04,
    "fitted_hmm_model_custom": SQL_FITTED_HMM_MODEL_CUSTOM,
    "fitted_hmm_model_conll04": SQL_FITTED_HMM_MODEL_CONLL04,
    "fitted_spans_custom": SQL_FITTED_SPANS_CUSTOM,
    "fitted_spans_conll04": SQL_FITTED_SPANS_CONLL04,
    "fitted_rel_weights_custom": SQL_FITTED_REL_WEIGHTS_CUSTOM,
    "fitted_rel_weights_conll04": SQL_FITTED_REL_WEIGHTS_CONLL04,
    "fitted_eval_custom": SQL_FITTED_EVAL_CUSTOM,
    "fitted_eval_conll04": SQL_FITTED_EVAL_CONLL04,
    "fitted_ptron_spans_custom": SQL_FITTED_PTRON_SPANS_CUSTOM,
    "fitted_ptron_spans_conll04": SQL_FITTED_PTRON_SPANS_CONLL04,
    "fitted_ptron_eval_custom": SQL_FITTED_PTRON_EVAL_CUSTOM,
    "fitted_ptron_eval_conll04": SQL_FITTED_PTRON_EVAL_CONLL04,
    "ptron_full_eval_custom": SQL_PTRON_FULL_EVAL_CUSTOM,
    "ptron_full_eval_conll04": SQL_PTRON_FULL_EVAL_CONLL04,
    "causal_triples_seeded": SQL_CAUSAL_TRIPLES_SEEDED,
}
