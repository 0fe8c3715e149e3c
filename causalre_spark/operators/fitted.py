"""Relation candidate pairs, their features and the majority label
types over the gold splits, shared by the relation perceptron
(operators/perceptron.py fit_rel_ipm / predict_rels_ptron) and the
ptron_full_eval_* queries.

- **Candidate pairs**: position-ordered disjoint span pairs within the
  reference's ±30-token relation window (candidate_pairs); on the gold
  splits they are labeled none / forward / backward from the gold
  relations (_labeled_train_pairs). Backward pairs get their own class
  because ~30% of gold relations point right-to-left (head after tail
  in text).
- **Pair features**: between-text tokens and bigrams, quantized gap
  bucket, first/last between-token, tokens adjacent to the pair
  (pre/post), each span's last token (hl/tl), shape class (hlsh/tlsh)
  and width bucket (hw/tw), plus the relation perceptron's
  val-selected extra kinds. Pure DataFrame algebra, so the DuckDB
  oracle (plans/entry_queries._duck_pair_feats) recomputes it exactly.
- **Majority types**: the fit split's most frequent span and relation
  type, attached to untyped predictions for strict typed matching.

Reference parity targets: `CRE Model/modules/metrics.py:96-132` scoring
over `data/Conll04/conll04_nathan_for_model_rs129.json` and the Custom
test split; the dissertation's trained numbers are the BASELINE.md
quality rows these fitted surfaces are measured against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# token character-shape classes (precedence order). ASCII classes on
# purpose: Java regex (Spark), RE2-ish DuckDB regexp and Python `re`
# agree exactly on them, so all three implementations bucket
# identically.
SHAPE_RULES = [
    ("Num", "[0-9]", False),          # contains a digit (search)
    ("Cap", "^[A-Z][a-z]+$", True),   # Capitalized word
    ("ALL", "^[A-Z]{2,}$", True),     # acronym
    ("low", "^[a-z]+$", True),        # lowercase word
]


def shape_col(tok) -> F.Column:
    """Spark Column: shape class of a token (see SHAPE_RULES)."""
    c = F.when(F.col(tok).rlike(SHAPE_RULES[0][1]), "Num")
    for name, pat, _anch in SHAPE_RULES[1:]:
        c = c.when(F.col(tok).rlike(pat), name)
    return c.otherwise("other")


# parameterized on the column expression so oracle sites can aim it at
# ptok/ntok/tokens[h_end]/... without substring surgery on the SQL text
# ({{2,}} survives .format as the regex quantifier {2,})
SHAPE_SQL_DUCK_FMT = """CASE
  WHEN regexp_matches({col}, '[0-9]') THEN 'Num'
  WHEN regexp_matches({col}, '^[A-Z][a-z]+$') THEN 'Cap'
  WHEN regexp_matches({col}, '^[A-Z]{{2,}}$') THEN 'ALL'
  WHEN regexp_matches({col}, '^[a-z]+$') THEN 'low'
  ELSE 'other' END"""


# --------------------------------------------------------------------------
# relation candidate pairs and their features
# --------------------------------------------------------------------------

MAX_GAP = 30        # reference's ±30-token rel context window


def _gap_bucket(gap) -> F.Column:
    return (F.when(gap < 6, gap.cast("string"))
            .when(gap <= 10, F.lit("10"))
            .when(gap <= 20, F.lit("20"))
            .otherwise(F.lit("30")))


def candidate_pairs(spans: DataFrame) -> DataFrame:
    """Position-ordered disjoint span pairs with gap <= MAX_GAP.
    `spans`: (url, start, end). Self-join on url — bounded per doc by
    the span count, never cross-document."""
    h = spans.select("url", F.col("start").alias("h_start"),
                     F.col("end").alias("h_end"))
    t = spans.select("url", F.col("start").alias("t_start"),
                     F.col("end").alias("t_end"))
    return (h.join(t, "url")
            .where((F.col("h_end") <= F.col("t_start"))
                   & (F.col("t_start") - F.col("h_end") <= MAX_GAP)))


_PAIR_KEY = ["url", "h_start", "h_end", "t_start", "t_end"]


def pair_features(pairs: DataFrame, docs: DataFrame,
                  extra_kinds: tuple = ()) -> DataFrame:
    """(pair key..., kind, val): the distinct feature multiset of each
    ordered candidate pair. Kinds: gap bucket, between-text unigrams
    (btw) and bigrams (btw2), first/last between-token (first/last),
    tokens adjacent to the pair (pre/post), each span's last token
    (hl/tl), its shape class (hlsh/tlsh) and width bucket (hw/tw,
    capped at 8) — the span content/size signal the pure context kinds
    miss. Pure DataFrame algebra — one join to the docs tokens,
    per-kind projections, explode, distinct.

    ``extra_kinds`` appends val-split-selected extra kinds INSIDE the
    same single docs join (the rel perceptron's perceptron.REL_EXTRAS):
    ``fl`` first|last between-token conjunction, ``hltl`` head|
    tail last-token conjunction, ``hfsh``/``tfsh`` perceptron-shape of
    each span's FIRST token (perceptron.ptron_shape_col — deliberately
    the perceptron's shape classes, not SHAPE_RULES), ``hf``/``tf``
    each span's first token itself, ``hbow``/``tbow`` head/tail span
    token bags."""
    if "url" not in docs.columns:
        docs = docs.withColumn("url", F.col("doc_id").cast("string"))
    j = (pairs.join(docs.select("url", "tokens"), "url")
         .withColumn("_hl", F.expr("tokens[h_end - 1]"))
         .withColumn("_tl", F.expr("tokens[t_end - 1]")))
    key = [F.col(c) for c in _PAIR_KEY]

    def kv(kind: str, val) -> F.Column:
        return F.struct(F.lit(kind).alias("kind"),
                        val.cast("string").alias("val"))

    entries = [
        kv("gap", _gap_bucket(F.col("t_start") - F.col("h_end"))),
        kv("first", F.when(F.col("t_start") > F.col("h_end"),
                           F.expr("tokens[h_end]")).otherwise("<adj>")),
        kv("last", F.when(F.col("t_start") > F.col("h_end"),
                          F.expr("tokens[t_start - 1]"))
           .otherwise("<adj>")),
        kv("pre", F.when(F.col("h_start") > 0,
                         F.expr("tokens[h_start - 1]"))
           .otherwise("<bos>")),
        kv("post", F.when(F.col("t_end") < F.size("tokens"),
                          F.expr("tokens[t_end]")).otherwise("<eos>")),
        kv("hl", F.col("_hl")),
        kv("tl", F.col("_tl")),
        kv("hlsh", shape_col("_hl")),
        kv("tlsh", shape_col("_tl")),
        kv("hw", F.least(F.col("h_end") - F.col("h_start"), F.lit(8))),
        kv("tw", F.least(F.col("t_end") - F.col("t_start"), F.lit(8)))]
    if "fl" in extra_kinds:
        entries.append(kv("fl", F.when(
            F.col("t_start") > F.col("h_end"),
            F.concat(F.expr("tokens[h_end]"), F.lit("|"),
                     F.expr("tokens[t_start - 1]")))
            .otherwise("<adj>|<adj>")))
    if "hltl" in extra_kinds:
        entries.append(kv("hltl", F.concat(F.col("_hl"), F.lit("|"),
                                           F.col("_tl"))))
    if "hfsh" in extra_kinds:
        from causalre_spark.operators.perceptron import ptron_shape_col
        entries.append(kv("hfsh", ptron_shape_col(
            F.expr("tokens[h_start]"))))
        entries.append(kv("tfsh", ptron_shape_col(
            F.expr("tokens[t_start]"))))
    if "hf" in extra_kinds:
        entries.append(kv("hf", F.expr("tokens[h_start]")))
    if "tf" in extra_kinds:
        entries.append(kv("tf", F.expr("tokens[t_start]")))
    fixed = F.array(*entries)
    # between-text unigrams; bigrams tokens[i] + ' ' + tokens[i+1] for
    # i in [h_end, t_start-2] (0-based). Spark sequence() descends when
    # start > stop, so the empty case needs an explicit guard. ONE
    # concat'd feature array -> ONE explode: the pairs-join-docs
    # subtree is scanned once, not once per feature kind (13 union
    # branches would re-execute the join per branch — Spark does not
    # share subplans across a union).
    var_parts = [
        "transform(slice(tokens, h_end + 1, t_start - h_end), "
        "x -> named_struct('kind', 'btw', 'val', x))",
        "CASE WHEN t_start - h_end >= 2 THEN "
        "transform(sequence(h_end, t_start - 2), "
        "i -> named_struct('kind', 'btw2', "
        "'val', concat(tokens[i], ' ', tokens[i + 1]))) "
        "ELSE array() END"]
    if "hbow" in extra_kinds:
        var_parts.append(
            "transform(slice(tokens, h_start + 1, h_end - h_start), "
            "x -> named_struct('kind', 'hbow', 'val', x))")
    if "tbow" in extra_kinds:
        var_parts.append(
            "transform(slice(tokens, t_start + 1, t_end - t_start), "
            "x -> named_struct('kind', 'tbow', 'val', x))")
    var = F.expr("concat(" + ", ".join(var_parts) + ")")
    return (j.select(*key, F.explode(F.concat(fixed, var)).alias("f"))
            .select(*_PAIR_KEY, F.col("f.kind").alias("kind"),
                    F.col("f.val").alias("val"))
            .distinct())


def _labeled_train_pairs(split_df: DataFrame) -> DataFrame:
    """Gold-span candidate pairs labeled neg/fwd/bwd from gold rels.
    fwd = head span earlier in text, bwd = head later (the pair is
    always stored in text order)."""
    spans = (split_df
             .select(F.col("doc_id").cast("string").alias("url"),
                     F.explode("spans").alias("sp"))
             .select("url", F.col("sp.start").alias("start"),
                     F.col("sp.end").alias("end")).distinct())
    pairs = candidate_pairs(spans)
    rels = (split_df
            .select(F.col("doc_id").cast("string").alias("url"),
                    "spans", F.explode("relations").alias("r"))
            .select("url",
                    F.expr("spans[r.head].start").alias("a_st"),
                    F.expr("spans[r.head].end").alias("a_en"),
                    F.expr("spans[r.tail].start").alias("b_st"),
                    F.expr("spans[r.tail].end").alias("b_en")))
    fwd_first = F.col("a_st") <= F.col("b_st")
    orient = (rels.select(
        "url",
        F.when(fwd_first, F.col("a_st")).otherwise(F.col("b_st"))
        .alias("h_start"),
        F.when(fwd_first, F.col("a_en")).otherwise(F.col("b_en"))
        .alias("h_end"),
        F.when(fwd_first, F.col("b_st")).otherwise(F.col("a_st"))
        .alias("t_start"),
        F.when(fwd_first, F.col("b_en")).otherwise(F.col("a_en"))
        .alias("t_end"),
        F.when(fwd_first, F.lit(1)).otherwise(F.lit(2)).alias("y"))
        .groupBy(*_PAIR_KEY)
        # a pair related in BOTH directions resolves to fwd (min y) —
        # deterministic; occurs once in the custom train split (doc 70)
        .agg(F.min("y").alias("y")))
    return (pairs.join(orient, _PAIR_KEY, "left")
            .fillna({"y": 0}))


def majority_span_type(split_df: DataFrame) -> DataFrame:
    """One-row (type): the train split's most frequent gold span type
    (ties: type asc) — attached to untyped perceptron spans for strict
    typed matching (both reference corpora are single-type 'event')."""
    w = Window.orderBy(F.col("c").desc(), F.col("type").asc())
    return (split_df.select(F.explode("spans").alias("sp"))
            .groupBy(F.col("sp.type").alias("type"))
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1).select("type"))


def majority_rel_type(split_df: DataFrame) -> DataFrame:
    """One-row (rel_type): the train split's most frequent relation
    type (ties: type asc) — the emitted label for predicted pairs on
    single-relation corpora."""
    w = Window.orderBy(F.col("c").desc(), F.col("rel_type").asc())
    return (split_df.select(F.explode("relations").alias("r"))
            .groupBy(F.col("r.type").alias("rel_type"))
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1).select("rel_type"))
