"""Averaged structured perceptron span tagger (BIES+O) fitted with
EXACT scaled-integer Iterative Parameter Mixing, and the relation
perceptron over fitted.pair_features fitted the same way.

Why a perceptron: the HMM tagger this repo used to fit (retired;
GOLD_EVAL.md keeps its frozen F1) is generative — its emission/context
tables cannot weigh features against each other, so it plateaus at
conll04 span F1 ~0.72. A structured perceptron trains the
SAME feature families discriminatively (token, shape, prev/next token and
shape, prefix/suffix, two conjunctions) and reaches ~0.79 on the conll04
test split (GOLD_EVAL.md) with no external data — still far below
the dissertation's trained-checkpoint 89.02 (`CRE Model/config.yaml:47`,
BASELINE.md quality rows) but the best decision surface this repo can fit
from the reference's own train splits.

Distribution: the fit is Iterative Parameter Mixing (McDonald, Hall &
Mann, NAACL 2010, "Distributed Training Strategies for the Structured
Perceptron") — the published data-parallel perceptron:

  - docs are sharded into P fixed partitions by ``doc_id % P``;
  - each epoch, every shard runs ONE sequential perceptron epoch locally
    (Viterbi decode + update per doc) starting from the shared weights
    and emits its weight DELTA;
  - the new shared weights add the AVERAGE of the shard deltas.

In Spark each epoch is one ``applyInPandas`` over the shard key — the
shards never see each other's updates inside an epoch, so the epoch is
embarrassingly parallel; the only synchronization is the delta
aggregation (a train-vocabulary-bounded dimension, the k-means-centroid
collect class). At 100 TB the per-epoch plan is: broadcast weights with
the task closure, map shards, partial-agg the deltas — no shuffle wider
than the (feature, state, delta) table.

Exactness: weights live on an integer grid in units of 1/P (a local
update step is ``P`` scaled units), so the /P mixing average is EXACT
integer division — byte-identical across Spark, the scalar twin in
tests/test_perceptron.py, and any executor count. The averaged
perceptron's final weights are the per-epoch running sums (units 1/P
per epoch — only the argmax matters, so the common denominator is never
divided out). Determinism: shards are fixed by doc_id (not by Spark
partitioning), docs are processed in doc_id order inside a shard, and
Viterbi breaks ties first-max in fixed state order.

The fit is iterative with a decode inside — NOT SQL-expressible — so the
registered ptron_full_eval_* queries decode under weights frozen by
tools/freeze_perceptron.py (fixtures/perceptron/), their oracles read
the frozen decode fixture, and the exactness gates are the scalar-twin
pytest parity and the frozen-decode check in tests/test_perceptron.py.

Reference parity target: `CRE Model/modules/metrics.py:96-132` scoring
over the gold test splits; span semantics (BIES over token positions)
match `data_preparation.py:242-288`.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATES = ["O", "B", "I", "E", "S"]
_SI = {s: i for i, s in enumerate(STATES)}
LEGAL = {("O", "O"), ("O", "B"), ("O", "S"), ("B", "I"), ("B", "E"),
         ("I", "I"), ("I", "E"), ("E", "O"), ("E", "B"), ("E", "S"),
         ("S", "O"), ("S", "B"), ("S", "S")}
START_OK = ("O", "B", "S")
END_OK = ("O", "E", "S")

# IPM shard count. A system constant (not a tuned hyperparameter): the
# scaled-integer grid is in units of 1/P, so changing P changes the
# model. 8 shards saturate the reference corpora (~1k docs).
P_SHARDS = 8

# epochs are selected per dataset under the dual val+CV gate (the
# select-then-refit protocol of gold_eval.load_gold_fit_split; test
# never read):
# conll04 moved 50 -> 70 jointly with the suf4+wl extras adoption
# (the adopted arm's best checkpoint on BOTH signals); custom moved
# 35 -> 70 in round 4 when BOTH signals agreed (val 0.4227 -> 0.4299, 5-fold CV micro-F1
# 0.3640 -> 0.3717).
EPOCHS = {"conll04": 70, "custom": 70}

# Extra span-feature kinds stacked on the 10 baseline families
# (_feats), selected per dataset by greedy-forward rounds under the
# DUAL val+CV gate deployment-matched to the shipped config — gaz
# arms cross-fit, same 5-fold protocol as the gaz CV check
# (round 4). conll04: round 1 adopted
# suf4+wl (val span F1 0.8105 -> 0.8146 @70, 5-fold CV over train∪val
# 0.8158 -> 0.8236 @70; each kind alone fails the val half), round 2
# added psh2 (val 0.8146 -> 0.8185, CV 0.8236 -> 0.8244 — the only
# one of four third-kind arms clearing both bars; CV margin is thin
# but the gate is directional, matching the documented precedent).
# custom: nine candidate arms across both rounds all fail at least
# one half — stays at the 10 baseline families. The space is
# EXHAUSTED, not truncated: a third greedy round rejected every
# remaining arm on both datasets, epochs beyond 70 decline on BOTH
# signals (val/CV at checkpoints 100 and 140), and a rel-head
# decision-margin sweep found m=0 (plain argmax) val-optimal on both
# datasets. Round 5 also tried the last untried family —
# token-conditioned transitions (TR_KINDS,
# dual val+CV gate at checkpoints 35/50/70): custom all four kinds
# REJECTED (closest: trpw val 0.4299->0.4388 but CV 0.3717->0.3714;
# trpsh CV 0.3717->0.3738 but val 0.4299->0.4230); conll04 trw beats
# base on best-over-checkpoint val (0.8185->0.8189 @50) AND CV
# (0.8244->0.8249 @70) but at DIFFERENT epochs — no single deployable
# checkpoint improves both (@50 CV 0.8233 < 0.8244; @70 val 0.8159 <
# 0.8185; margins ±0.0005, inside split noise), and every prior
# adoption required the deployed checkpoint to win both signals, so
# trw is REJECTED too; trpw/trsh/trpsh fail val outright. The family
# stays implemented-but-unselected (exactness gated by
# tests/test_perceptron.py token-conditioned parity). The
# SEMI-SUPERVISED lever (distributional word-cluster features, Koo et
# al. 2008 — clusters fit-split-text-only, k-means over left/right
# context signatures) was probed last and also
# REJECTED on both datasets: wcl/wcl3 lose val outright (custom
# 0.4299->0.4028/0.3777, conll04 0.8185->0.8090/0.8070 — custom wcl's
# CV gain 0.3717->0.3800 fails the dual gate's val half), i.e. at
# ~1k-doc corpus size the cluster ids add noise over the lexical
# families the tagger already has. Part of the frozen-weight identity
# (fixtures/perceptron regenerate on change).
SPAN_EXTRAS = {"conll04": ("suf4", "wl", "psh2"), "custom": ()}

# Stacked cross-fit gazetteer features (("gz", B|I|E|S) membership
# flags; fit_ipm gaz_folds / decode_spans gaz): selected per dataset by
# the repo's DUAL val+CV gate (the model-choice discipline of
# tools/freeze_perceptron.py) — conll04 val span F1 0.800 -> 0.8105
# @50 epochs CONFIRMED by 5-fold CV over
# train∪val 0.8040 -> 0.8136 micro-F1; custom
# val 0.4299 best baseline vs 0.4276 with gaz (reject). GAZ_FOLDS is
# part of the frozen-weight identity (changing it re-partitions the
# cross-fit and invalidates fixtures).
SPAN_GAZ = {"conll04": True, "custom": False}
GAZ_FOLDS = 5


def _shape(w: str) -> str:
    """Perceptron feature shape classes (digits/punct/cap/lower/other).

    Deliberately DIFFERENT from fitted.SHAPE_RULES: these are the classes
    the prototype's val scores were selected under; pure-Python string
    predicates (no regex) keep the fit's inner loop cheap."""
    if not w:
        return "other"
    if w.isdigit():
        return "digits"
    if all(not c.isalnum() for c in w):
        return "punct"
    if w[0].isupper():
        return "cap"
    if w.islower():
        return "lower"
    return "other"


# Engine twins of _shape for the rel-feature extras (REL_EXTRAS hfsh):
# Unicode category classes valid IDENTICALLY in Java regex (Spark rlike)
# and RE2 (DuckDB regexp_matches). The classes APPROXIMATE the Python
# predicates (they are not universally equal: '²' is str.isdigit but \p{Nd} rejects it;
# modifier letter 'ʰ' is str.islower but the lower-pattern rejects it),
# so equivalence is CORPUS-exact, not universal — gated over every
# distinct token of every G.REFERENCE_DATASETS corpus plus crafted edge
# cases in tests/test_perceptron.py test_ptron_shape_engine_twins_exact;
# a new dataset must pass that gate before these twins may score it.
# Rule ORDER matches _shape.
_SHAPE_PATTERNS = [("digits", r"^\p{Nd}+$"),
                   ("punct", r"^[^\p{L}\p{N}]+$"),
                   ("cap", r"^[\p{Lu}\p{Lt}]"),
                   ("lower", r"^[^\p{Lu}\p{Lt}]*\p{Ll}[^\p{Lu}\p{Lt}]*$")]


def ptron_shape_col(c) -> "F.Column":
    """Spark Column twin of :func:`_shape` (digits/punct/cap/lower/
    other) over a token Column."""
    out = F.when(c == "", "other")
    for name, pat in _SHAPE_PATTERNS:
        out = out.when(c.rlike(pat), name)
    return out.otherwise("other")


# ({ } in the regex bodies are doubled so they survive str.format —
# only {col} is a live placeholder)
PTRON_SHAPE_SQL_DUCK_FMT = (
    "CASE WHEN {col} = '' THEN 'other' "
    + " ".join(
        "WHEN regexp_matches({col}, '"
        + pat.replace("{", "{{").replace("}", "}}")
        + f"') THEN '{name}'"
        for name, pat in _SHAPE_PATTERNS)
    + " ELSE 'other' END")


def _feats(toks: list, shapes: list, i: int, gfl: list = None,
           extras: tuple = ()) -> list:
    """Position-local feature keys (kind, value); the scorer appends the
    state. Ten families: token, shape, prev/next token, prev/next shape,
    3-suffix, 2-prefix, token|next-shape and prev-token|token
    conjunctions. ``extras`` (SPAN_EXTRAS[dataset]) stacks the
    val+CV-selected extra kinds — 4-suffix (suf4), 3-prefix (pre3),
    capped word length (wl), shape at i-2 (psh2). ``gfl`` (optional,
    per-token sorted flag lists from :func:`gaz_flags`) appends one
    ("gz", B|I|E|S) feature per positional gazetteer-membership flag —
    the stacked-lexicon signal (SPAN_GAZ datasets only). An empty flag
    list / extras tuple adds nothing, so a baseline fit is
    byte-identical with or without the arguments."""
    n = len(toks)
    pt = toks[i - 1] if i > 0 else "<bos>"
    nt = toks[i + 1] if i < n - 1 else "<eos>"
    psh = shapes[i - 1] if i > 0 else "<bos>"
    nsh = shapes[i + 1] if i < n - 1 else "<eos>"
    w = toks[i]
    fs = [("w", w), ("sh", shapes[i]), ("pw", pt), ("nw", nt),
          ("psh", psh), ("nsh", nsh), ("suf", w[-3:]), ("pre", w[:2]),
          ("wsh", w + "|" + nsh), ("pww", pt + "|" + w)]
    if "suf4" in extras:
        fs.append(("suf4", w[-4:]))
    if "pre3" in extras:
        fs.append(("pre3", w[:3]))
    if "wl" in extras:
        fs.append(("wl", str(min(len(w), 8))))
    if "psh2" in extras:
        fs.append(("psh2", shapes[i - 2] if i > 1 else "<bos>"))
    if gfl is not None:
        for t in gfl[i]:
            fs.append(("gz", t))
    return fs


# Token-conditioned transition feature kinds (the round-5 family —
# the one VERDICT r04 documented as untried): a SPAN_EXTRAS entry in
# this tuple conditions the transition score/update on a position-local
# value instead of adding an emission feature. Weights live in the SAME
# Wt dict under 3-tuple keys ((kind, val), prev, state) — global
# transitions keep their (prev, state) 2-tuple keys — so every fit /
# decode / freeze signature and the frozen-weights parquet schema
# (kind, val, prev, state, w) are unchanged; rows_to_weights dispatches
# on prev being non-null. With no tr kind in extras the code paths are
# byte-identical to round 4 (fixture identity preserved).
TR_KINDS = ("trw", "trpw", "trsh", "trpsh")


def _tr_feats(toks: list, shapes: list, i: int, extras: tuple) -> list:
    """Conditioned-transition feature keys for the transition INTO
    position i (i >= 1): current/previous token or shape. The scorer
    and the update attach (prev, state) exactly like the global
    ``__tr__`` weight — update fires iff the gold and predicted
    transitions differ, the exact sequence-level perceptron update
    (the position-local features cancel when the transitions agree)."""
    fs = []
    if "trsh" in extras:
        fs.append(("trsh", shapes[i]))
    if "trpsh" in extras:
        fs.append(("trpsh", shapes[i - 1]))
    if "trw" in extras:
        fs.append(("trw", toks[i]))
    if "trpw" in extras:
        fs.append(("trpw", toks[i - 1]))
    return fs


def _has_tr(extras: tuple) -> bool:
    return any(k in extras for k in TR_KINDS)


def gaz_index(phrases) -> dict:
    """Index an iterable of token-tuple phrases by first token for the
    scan in :func:`gaz_flags`."""
    byfirst: dict = {}
    for ph in phrases:
        if ph:
            byfirst.setdefault(ph[0], []).append(ph)
    return byfirst


def gaz_flags(toks: list, byfirst: dict) -> list:
    """Per-token SORTED list of positional membership flags (B/I/E/S)
    from every exact occurrence of an indexed lexicon phrase — the
    deterministic feature surface for the ("gz", flag) kinds. Flags are
    set-deduped (overlapping phrases can assert the same flag) then
    sorted, so feature lists are order-stable across engines."""
    n = len(toks)
    flags = [set() for _ in range(n)]
    for i, w in enumerate(toks):
        for ph in byfirst.get(w, ()):
            L = len(ph)
            if i + L <= n and tuple(toks[i:i + L]) == ph:
                if L == 1:
                    flags[i].add("S")
                else:
                    flags[i].add("B")
                    flags[i + L - 1].add("E")
                    for j in range(i + 1, i + L - 1):
                        flags[j].add("I")
    return [sorted(fl) for fl in flags]


def viterbi_tags(toks: list, W: dict, Wt: dict, gfl: list = None,
                 extras: tuple = ()) -> list:
    """Integer max-sum Viterbi over BIES+O under emission weights
    W[((kind, val), state)] and transition weights Wt[(prev, cur)].
    Deterministic: strict-greater argmax in fixed state order; final
    state max breaks ties toward the earlier state index. ``gfl``:
    optional per-token gazetteer flags; ``extras``: the dataset's
    SPAN_EXTRAS kinds (see :func:`_feats`)."""
    n = len(toks)
    if n == 0:
        return []
    shs = [_shape(w) for w in toks]
    fs = [_feats(toks, shs, i, gfl, extras) for i in range(n)]
    trf = ([None] + [_tr_feats(toks, shs, i, extras) for i in range(1, n)]
           if _has_tr(extras) else None)
    emis = [[sum(W.get((f, s), 0) for f in fs[i]) for s in STATES]
            for i in range(n)]
    NEG = float("-inf")
    dp = [[NEG] * 5 for _ in range(n)]
    bp = [[0] * 5 for _ in range(n)]
    for s in START_OK:
        dp[0][_SI[s]] = emis[0][_SI[s]]
    for i in range(1, n):
        tf = trf[i] if trf is not None else ()
        for s in STATES:
            si = _SI[s]
            best, barg = NEG, -1
            for p in STATES:
                if (p, s) not in LEGAL:
                    continue
                v = dp[i - 1][_SI[p]]
                if v == NEG:
                    continue
                v = v + Wt.get((p, s), 0)
                for f in tf:
                    v += Wt.get((f, p, s), 0)
                if v > best:
                    best, barg = v, _SI[p]
            if barg >= 0:
                dp[i][si] = best + emis[i][si]
                bp[i][si] = barg
    ends = [_SI[s] for s in END_OK if dp[n - 1][_SI[s]] > NEG]
    if not ends:
        return ["O"] * n
    last = max(ends, key=lambda si: (dp[n - 1][si], -si))
    seq = [last]
    for i in range(n - 1, 0, -1):
        seq.append(bp[i][seq[-1]])
    seq.reverse()
    return [STATES[si] for si in seq]


def tags_to_spans(tags: list) -> list:
    """BIES+O tag sequence -> [(start, end)); malformed runs drop."""
    spans, start = [], None
    for i, t in enumerate(tags):
        if t == "S":
            spans.append((i, i + 1))
            start = None
        elif t == "B":
            start = i
        elif t == "E" and start is not None:
            spans.append((start, i + 1))
            start = None
        elif t == "O":
            start = None
    return spans


def spans_to_tags(n: int, spans: list) -> list:
    """Gold spans -> BIES+O tags; on overlap the span latest in the
    array wins per position."""
    tags = ["O"] * n
    for s, e in spans:
        if e - s == 1:
            tags[s] = "S"
        else:
            tags[s] = "B"
            tags[e - 1] = "E"
            for i in range(s + 1, e - 1):
                tags[i] = "I"
    return tags


def local_epoch(docs: list, W: dict, Wt: dict, step: int,
                extras: tuple = ()):
    """One sequential perceptron epoch over ``docs`` (already in
    deterministic order) starting from shared weights (W, Wt); returns
    the shard's (dW, dWt) deltas in integer units of ``step``. The
    shard's own running weights include its local updates (standard
    perceptron); the deltas are what IPM mixes. Doc tuples are
    (doc_id, toks, gold) or (doc_id, toks, gold, gfl) with per-token
    gazetteer flags."""
    dW: dict = defaultdict(int)
    dWt: dict = defaultdict(int)
    lw = dict(W)
    lwt = dict(Wt)
    has_tr = _has_tr(extras)
    for row in docs:
        _, toks, gold = row[0], row[1], row[2]
        gfl = row[3] if len(row) > 3 else None
        pred = viterbi_tags(toks, lw, lwt, gfl, extras)
        if pred == gold:
            continue
        shs = [_shape(w) for w in toks]
        for i in range(len(toks)):
            if pred[i] == gold[i]:
                continue
            for f in _feats(toks, shs, i, gfl, extras):
                for s, d in ((gold[i], step), (pred[i], -step)):
                    dW[(f, s)] += d
                    lw[(f, s)] = lw.get((f, s), 0) + d
        for i in range(1, len(toks)):
            gt, pt = (gold[i - 1], gold[i]), (pred[i - 1], pred[i])
            if gt != pt:
                keys = [(gt, step), (pt, -step)]
                if has_tr:
                    for f in _tr_feats(toks, shs, i, extras):
                        keys.append(((f,) + gt, step))
                        keys.append(((f,) + pt, -step))
                for k, d in keys:
                    dWt[k] += d
                    lwt[k] = lwt.get(k, 0) + d
    return dW, dWt


def _tagged_docs(split_df: DataFrame,
                 fold_lexica: list = None) -> DataFrame:
    """(doc_id, shard, tokens, tags, gfl): gold docs as tag sequences
    with their fixed IPM shard key. ``fold_lexica`` (len-K list of
    :func:`gaz_index` indices, fold = doc_id % K) attaches CROSS-FIT
    gazetteer flags: a doc's flags come from the lexicon that EXCLUDES
    its own fold, so the stacked feature never sees the doc's own gold
    spans during the fit (a full-split lexicon would mark every gold
    span and the perceptron would just copy it). ``gfl`` is null when
    no lexica are given — feature-identical to the pre-gaz fit."""
    spans = F.expr(
        "transform(spans, x -> struct(x.start AS start, x.end AS end))")
    src = split_df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % P_SHARDS).cast("int").alias("shard"),
        F.expr("transform(tokens, x -> CAST(x AS STRING))").alias("tokens"),
        spans.alias("sp"))
    n_folds = len(fold_lexica) if fold_lexica else 0

    def udf(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"doc_id": [], "shard": [], "tokens": [], "tags": [],
               "gfl": []}
        for doc_id, shard, toks, sp in zip(pdf["doc_id"], pdf["shard"],
                                           pdf["tokens"], pdf["sp"]):
            toks = [str(t) for t in toks]
            tags = spans_to_tags(
                len(toks), [(int(s["start"]), int(s["end"])) for s in sp])
            out["doc_id"].append(int(doc_id))
            out["shard"].append(int(shard))
            out["tokens"].append(toks)
            out["tags"].append(tags)
            out["gfl"].append(
                gaz_flags(toks, fold_lexica[int(doc_id) % n_folds])
                if n_folds else None)
        return pd.DataFrame(out)

    # grouped only to batch the conversion; the group key is the shard
    # the fit reuses
    return (src.groupBy("shard").applyInPandas(
        udf, schema="doc_id long, shard int, tokens array<string>, "
                    "tags array<string>, gfl array<array<string>>"))


def gaz_lexicon(split_df: DataFrame) -> list:
    """[(doc_id, phrase-token-tuple)] of every gold span in the split —
    the raw material for the stacked-gazetteer lexicon. Small (the gold
    annotation surface, thousands of rows), collected to the driver and
    broadcast through UDF closures like the weight dicts."""
    rows = (split_df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("transform(spans, x -> slice(tokens, x.start + 1, "
               "x.end - x.start))").alias("phr"))
        .select("doc_id", F.explode("phr").alias("p"))
        .collect())
    return [(int(r["doc_id"]), tuple(str(t) for t in r["p"]))
            for r in rows]


def fit_ipm(split_df: DataFrame, epochs: int,
            gaz_folds: int = 0, extras: tuple = ()) -> tuple[dict, dict]:
    """Distributed averaged-perceptron fit (IPM) -> (W, Wt) integer
    weight dicts (units: 1/P_SHARDS per epoch of averaging).

    Per epoch: one ``applyInPandas`` over the fixed shards, each running
    ``local_epoch`` with the current weights in the closure and emitting
    delta rows; the driver sums deltas (exact //P_SHARDS mixing) and
    accumulates the running average. The collected delta table is
    train-bounded (the model dimension), never corpus-sized.

    ``gaz_folds`` = K > 0 stacks CROSS-FIT gazetteer-membership features
    (("gz", B|I|E|S)): K lexica are built from the split's own gold
    spans, fold k's docs (doc_id % K == k) are tagged with the lexicon
    from the OTHER folds, so the feature generalizes instead of copying
    the doc's own annotation. Inference uses the FULL split lexicon
    (decode_spans gaz arg) — exactly what deployment sees. Val-selected
    per dataset (SPAN_GAZ). ``extras``: extra
    feature kinds stacked into every _feats call (SPAN_EXTRAS)."""
    fold_lexica = None
    if gaz_folds:
        pairs = gaz_lexicon(split_df)
        fold_lexica = [
            gaz_index({ph for d, ph in pairs if d % gaz_folds != k})
            for k in range(gaz_folds)]
    docs = _tagged_docs(split_df, fold_lexica)
    # the corpus is re-decoded every epoch: cache the tagged docs once
    docs = docs.persist()
    try:
        W: dict = {}
        Wt: dict = {}
        avgW: dict = defaultdict(int)
        avgWt: dict = defaultdict(int)
        for _ in range(epochs):
            bW, bWt = dict(W), dict(Wt)  # epoch-frozen closure copies

            def udf(pdf: pd.DataFrame) -> pd.DataFrame:
                rows = sorted(
                    zip(pdf["doc_id"], pdf["tokens"], pdf["tags"],
                        pdf["gfl"]),
                    key=lambda r: r[0])
                shard_docs = [
                    (int(d), [str(t) for t in ts], list(tg),
                     None if g is None else [list(x) for x in g])
                    for d, ts, tg, g in rows]
                dW, dWt = local_epoch(shard_docs, bW, bWt,
                                      step=P_SHARDS, extras=extras)
                out = {"kind": [], "val": [], "prev": [], "state": [],
                       "delta": []}
                for ((kind, val), s), d in dW.items():
                    out["kind"].append(kind)
                    out["val"].append(val)
                    out["prev"].append(None)
                    out["state"].append(s)
                    out["delta"].append(d)
                for k, d in dWt.items():
                    if len(k) == 2:  # global (prev, state)
                        out["kind"].append("__tr__")
                        out["val"].append(None)
                        out["prev"].append(k[0])
                        out["state"].append(k[1])
                    else:  # conditioned ((kind, val), prev, state)
                        out["kind"].append(k[0][0])
                        out["val"].append(k[0][1])
                        out["prev"].append(k[1])
                        out["state"].append(k[2])
                    out["delta"].append(d)
                return pd.DataFrame(out)

            deltas = (docs.groupBy("shard").applyInPandas(
                udf, schema="kind string, val string, prev string, "
                            "state string, delta long")
                .groupBy("kind", "val", "prev", "state")
                .agg(F.sum("delta").alias("delta"))
                .where(F.col("delta") != 0))
            for r in deltas.collect():
                mixed = r["delta"] // P_SHARDS
                if mixed == 0:
                    continue
                if r["kind"] == "__tr__":
                    k = (r["prev"], r["state"])
                    Wt[k] = Wt.get(k, 0) + mixed
                elif r["prev"] is not None:  # conditioned transition
                    k = ((r["kind"], r["val"]), r["prev"], r["state"])
                    Wt[k] = Wt.get(k, 0) + mixed
                else:
                    k = ((r["kind"], r["val"]), r["state"])
                    W[k] = W.get(k, 0) + mixed
            for k, v in W.items():
                avgW[k] += v
            for k, v in Wt.items():
                avgWt[k] += v
        return dict(avgW), dict(avgWt)
    finally:
        docs.unpersist()


def weights_to_rows(W: dict, Wt: dict) -> list:
    """(kind, val, prev, state, w) rows for the frozen-weights parquet
    (global transitions carried as kind='__tr__'; token-conditioned
    transitions as (kind, val, prev, state) — the only rows with BOTH
    val and prev set), sorted for determinism."""
    rows = [(kind, val, None, s, int(w))
            for ((kind, val), s), w in W.items() if w]
    for k, w in Wt.items():
        if not w:
            continue
        if len(k) == 2:
            rows.append(("__tr__", None, k[0], k[1], int(w)))
        else:
            rows.append((k[0][0], k[0][1], k[1], k[2], int(w)))
    return sorted(rows, key=lambda r: (r[0], r[1] or "", r[2] or "", r[3]))


def rows_to_weights(rows) -> tuple[dict, dict]:
    """Inverse of weights_to_rows (rows: any iterable of mappings)."""
    W: dict = {}
    Wt: dict = {}
    for r in rows:
        if r["kind"] == "__tr__":
            Wt[(r["prev"], r["state"])] = int(r["w"])
        elif r["prev"] is not None:  # conditioned transition
            Wt[((r["kind"], r["val"]), r["prev"], r["state"])] = int(r["w"])
        else:
            W[((r["kind"], r["val"]), r["state"])] = int(r["w"])
    return W, Wt


def load_frozen_weights(path: str) -> tuple[dict, dict]:
    """Read a frozen-weights parquet (driver-side pyarrow — the model is
    a dimension table, never corpus-sized)."""
    import pyarrow.parquet as pq

    return rows_to_weights(pq.read_table(path).to_pylist())


def fit_rel_ipm(split_df: DataFrame, epochs: int,
                extras: tuple = ()) -> dict:
    """Multiclass (neg/fwd/bwd) averaged-perceptron relation classifier
    fitted with the same exact scaled-integer IPM as the span tagger ->
    W[((kind, val), cls)] integer weights.

    Training items are the gold-span candidate pairs of
    fitted._labeled_train_pairs (text-ordered, gap <= 30) with the
    distinct feature multiset of fitted.pair_features plus a bias
    feature, so the DuckDB feature CTE recomputes inference
    end-to-end. Per epoch: one applyInPandas over doc_id % 8
    shards (pairs of a doc stay together), local sequential multiclass
    epoch in (doc_id, pair-key) order, delta sum, exact //P mix,
    running average. Val selected it over the retired NB classifier:
    val rel F1 over train-only-fit PREDICTED spans 0.361 vs 0.334
    (conll04) and 0.222 vs 0.180 (custom) — see GOLD_EVAL.md."""
    from causalre_spark.operators import fitted as FT

    lab = FT._labeled_train_pairs(split_df)
    feats = rel_pair_features(lab.select(*FT._PAIR_KEY), split_df,
                              extras)
    items = (feats.groupBy(*FT._PAIR_KEY)
             .agg(F.collect_list(F.struct("kind", "val")).alias("fs"))
             .join(lab, FT._PAIR_KEY)
             .withColumn("doc", F.col("url").cast("long"))
             .withColumn("shard",
                         (F.col("doc") % P_SHARDS).cast("int"))
             .select("shard", "doc", "h_start", "h_end", "t_start",
                     "t_end", "fs", "y")
             .persist())
    try:
        W: dict = {}
        avgW: dict = defaultdict(int)
        for _ in range(epochs):
            bW = dict(W)

            def udf(pdf: pd.DataFrame) -> pd.DataFrame:
                order = sorted(
                    range(len(pdf)),
                    key=lambda i: (int(pdf["doc"].iat[i]),
                                   int(pdf["h_start"].iat[i]),
                                   int(pdf["h_end"].iat[i]),
                                   int(pdf["t_start"].iat[i]),
                                   int(pdf["t_end"].iat[i])))
                rows = [([(str(f["kind"]), str(f["val"])) for f in
                          pdf["fs"].iat[i]], int(pdf["y"].iat[i]))
                        for i in order]
                dW = _local_rel_epoch(rows, bW, step=P_SHARDS)
                out = {"kind": [], "val": [], "cls": [], "delta": []}
                for ((kind, val), c), d in dW.items():
                    out["kind"].append(kind)
                    out["val"].append(val)
                    out["cls"].append(c)
                    out["delta"].append(d)
                return pd.DataFrame(out)

            deltas = (items.groupBy("shard").applyInPandas(
                udf, schema="kind string, val string, cls int, delta long")
                .groupBy("kind", "val", "cls")
                .agg(F.sum("delta").alias("delta"))
                .where(F.col("delta") != 0))
            for r in deltas.collect():
                k = ((r["kind"], r["val"]), r["cls"])
                W[k] = W.get(k, 0) + r["delta"] // P_SHARDS
            for k, v in W.items():
                avgW[k] += v
        return dict(avgW)
    finally:
        items.unpersist()


def _local_rel_epoch(rows: list, W: dict, step: int) -> dict:
    """One sequential multiclass-perceptron epoch over (features, y)
    rows; returns integer deltas in units of ``step``. Argmax breaks
    ties toward the lower class index (neg < fwd < bwd)."""
    dW: dict = defaultdict(int)
    lw = dict(W)
    for fs, y in rows:
        scores = [sum(lw.get((f, c), 0) for f in fs) for c in range(3)]
        pred = max(range(3), key=lambda c: (scores[c], -c))
        if pred != y:
            for f in fs:
                dW[(f, y)] += step
                dW[(f, pred)] -= step
                lw[(f, y)] = lw.get((f, y), 0) + step
                lw[(f, pred)] = lw.get((f, pred), 0) - step
    return dW


def rel_pair_features(pairs: DataFrame, docs: DataFrame,
                      extras: tuple = ()) -> DataFrame:
    """fitted.pair_features (+ the dataset's val-selected REL_EXTRAS
    kinds, built inside the same single docs join) plus one bias
    feature per pair (the perceptron's class-prior surface)."""
    from causalre_spark.operators import fitted as FT

    f = FT.pair_features(pairs, docs, extra_kinds=extras)
    bias = (pairs.select(*FT._PAIR_KEY).distinct()
            .withColumn("kind", F.lit("bias"))
            .withColumn("val", F.lit("")))
    return f.unionByName(bias)


_REL_CLS = ["neg", "fwd", "bwd"]


def rel_weights_to_rows(W: dict) -> list:
    """(kind, val, w_neg, w_fwd, w_bwd) rows for the frozen rel-weights
    parquet, classes pivoted wide, sorted for determinism."""
    byf: dict = {}
    for ((kind, val), c), w in W.items():
        if w:
            byf.setdefault((kind, val), [0, 0, 0])[c] = int(w)
    return sorted((k, v, *ws) for (k, v), ws in byf.items())


def load_frozen_rel_weights(path: str) -> dict:
    """Inverse of rel_weights_to_rows (driver-side pyarrow read)."""
    import pyarrow.parquet as pq

    W: dict = {}
    for r in pq.read_table(path).to_pylist():
        for c, name in enumerate(_REL_CLS):
            if r[f"w_{name}"]:
                W[((r["kind"], r["val"]), c)] = int(r[f"w_{name}"])
    return W


def predict_rels_ptron(pred_spans: DataFrame, docs: DataFrame,
                       weights: DataFrame, rel_type: DataFrame,
                       extras: tuple = ()) -> DataFrame:
    """(url, h_start, h_end, t_start, t_end, rel_type): perceptron-
    decided relations over predicted spans — pure DataFrame algebra
    (the fit is frozen; inference is feature join + BIGINT sums +
    first-max argmax, with the bias feature as the class prior). fwd
    fires iff s_fwd > s_neg and s_fwd >= s_bwd; bwd iff s_bwd > s_neg
    and s_bwd > s_fwd (ties resolve toward the lower class index,
    matching _local_rel_epoch).
    The corpus-side plan is join -> explode -> broadcast-join ->
    partial-agg sum: no shuffle wider than the candidate-pair table."""
    from causalre_spark.operators import fitted as FT

    pairs = FT.candidate_pairs(pred_spans.select("url", "start", "end"))
    feats = rel_pair_features(pairs, docs, extras)
    key = FT._PAIR_KEY
    sums = (feats.join(F.broadcast(weights), ["kind", "val"])
            .groupBy(*key)
            .agg(*[F.sum(f"w_{c}").alias(f"s_{c}") for c in _REL_CLS]))
    scored = (pairs.join(sums, key, "left")
              .fillna({f"s_{c}": 0 for c in _REL_CLS}))
    fwd = (F.col("s_fwd") > F.col("s_neg")) & \
          (F.col("s_fwd") >= F.col("s_bwd"))
    bwd = (F.col("s_bwd") > F.col("s_neg")) & \
          (F.col("s_bwd") > F.col("s_fwd"))
    out = (scored
           .withColumn("dir", F.when(fwd, 1).when(bwd, 2))
           .where(F.col("dir").isNotNull())
           .select(
               "url",
               F.when(F.col("dir") == 1, F.col("h_start"))
               .otherwise(F.col("t_start")).alias("h_start"),
               F.when(F.col("dir") == 1, F.col("h_end"))
               .otherwise(F.col("t_end")).alias("h_end"),
               F.when(F.col("dir") == 1, F.col("t_start"))
               .otherwise(F.col("h_start")).alias("t_start"),
               F.when(F.col("dir") == 1, F.col("t_end"))
               .otherwise(F.col("h_end")).alias("t_end")))
    return out.crossJoin(F.broadcast(rel_type))


# relation-perceptron epochs and extra feature kinds, selected on the
# VAL splits by rel F1 over PREDICTED val spans from a train-only span
# fit (the deployment-matched criterion): epochs argmax over
# {8,12,20,30,40}; extras greedy-forward over a candidate set (the
# search's scalar twin used the perceptron shape for hlsh/tlsh where
# production uses SHAPE_RULES, so its scores were selection-grade, not
# production-identical). Re-selected in round 4 after the suf4+wl+psh2
# span adoption changed the predicted-span surface, and adopted via
# the dual val+CV gate deployment-vs-deployment:
# conll04 swaps fl -> tf (val rel F1
# 0.4180 -> 0.4198 @40, 5-fold CV 0.4627 -> 0.4674 @40); custom adds
# hf and moves 30 -> 40 epochs (val 0.2345 -> 0.2429, CV 0.1759 ->
# 0.1781 at the deployed checkpoints).
REL_EPOCHS = {"conll04": 40, "custom": 40}
REL_EXTRAS = {"conll04": ("tbow", "hltl", "hbow", "tf"),
              "custom": ("hfsh", "hf", "fl")}


def decode_spans(docs: DataFrame, W: dict, Wt: dict,
                 gaz: dict = None, extras: tuple = ()) -> DataFrame:
    """(url, start, end): perceptron-decoded spans for every document —
    mapInPandas with the weights in the closure (one Arrow crossing,
    zero shuffle, weights ship once per executor; the 100 TB shape).
    ``gaz``: optional full-fit-split :func:`gaz_index` lexicon for the
    stacked ("gz", flag) features —
    required iff the weights were fitted with gaz_folds (SPAN_GAZ);
    ships in the same closure as the weights. ``extras``: the
    SPAN_EXTRAS kinds the weights were fitted with."""
    if "url" not in docs.columns:
        docs = docs.withColumn("url", F.col("doc_id").cast("string"))
    src = docs.select("url", "tokens")

    def udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "start": [], "end": []}
            for url, toks in zip(pdf["url"], pdf["tokens"]):
                toks = [str(t) for t in toks]
                gfl = gaz_flags(toks, gaz) if gaz is not None else None
                tags = viterbi_tags(toks, W, Wt, gfl, extras)
                for a, b in tags_to_spans(tags):
                    out["url"].append(str(url))
                    out["start"].append(a)
                    out["end"].append(b)
            yield pd.DataFrame(out)

    return src.mapInPandas(udf, schema="url string, start int, end int")


def save_gaz_lexicon(phrases, path: str) -> None:
    """Freeze the full-fit-split gazetteer lexicon (sorted token-tuple
    phrases) as a one-column parquet — the deployment lexicon the
    frozen SPAN_GAZ weights require at decode time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"phrase": pa.array(
        [list(p) for p in sorted(set(phrases))],
        type=pa.list_(pa.string()))}), path)


def load_frozen_gaz(path: str) -> dict:
    """Frozen lexicon parquet -> :func:`gaz_index` index."""
    import pyarrow.parquet as pq

    return gaz_index([tuple(p) for p in
                      pq.read_table(path).column("phrase").to_pylist()])


def frozen_gaz_for(dataset: str, fix_dir: str) -> dict:
    """The decode-time lexicon for ``dataset`` under the SPAN_GAZ
    policy: the frozen index for gaz datasets, None otherwise."""
    if not SPAN_GAZ.get(dataset):
        return None
    return load_frozen_gaz(f"{fix_dir}/{dataset}_gaz_lexicon.parquet")
