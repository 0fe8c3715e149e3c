"""Averaged-perceptron span tagger (operators/perceptron.py) vs an
INDEPENDENT scalar-Python twin.

The twin re-implements shape/features/Viterbi/IPM with plain dicts and
loops (no Spark, no shared code with the operator module) — exact
integer weight-dict equality proves the distributed fit (sharding,
per-epoch applyInPandas, delta aggregation, exact //P mixing, running
average) computes precisely the published IPM recipe, and exact span-set
equality proves the Arrow decode UDF matches the scalar decoder. The F1
gates pin the GOLD_EVAL.md perceptron rows against silent fixture
or code drift."""

from __future__ import annotations

import collections
import os
import re
from collections import defaultdict

import duckdb
import pytest
from pyspark.sql import functions as F

from causalre_spark import FIXTURES_DIR
from causalre_spark.operators import perceptron as PT

FIX = os.path.join(FIXTURES_DIR, "gazetteer")
PT_FIX = os.path.join(FIXTURES_DIR, "perceptron")

_STATES = ["O", "B", "I", "E", "S"]
_SI = {s: i for i, s in enumerate(_STATES)}
_LEGAL = {("O", "O"), ("O", "B"), ("O", "S"), ("B", "I"), ("B", "E"),
          ("I", "I"), ("I", "E"), ("E", "O"), ("E", "B"), ("E", "S"),
          ("S", "O"), ("S", "B"), ("S", "S")}


# --------------------------------------------------------------------------
# independent scalar twin
# --------------------------------------------------------------------------

def _twin_shape(w):
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


def _twin_feats(toks, i, gfl=None, extras=()):
    n = len(toks)
    pt = toks[i - 1] if i > 0 else "<bos>"
    nt = toks[i + 1] if i < n - 1 else "<eos>"
    w = toks[i]
    fs = [("w", w), ("sh", _twin_shape(w)), ("pw", pt), ("nw", nt),
          ("psh", _twin_shape(pt) if i > 0 else "<bos>"),
          ("nsh", _twin_shape(nt) if i < n - 1 else "<eos>"),
          ("suf", w[-3:]), ("pre", w[:2]),
          ("wsh", w + "|" + (_twin_shape(nt) if i < n - 1 else "<eos>")),
          ("pww", pt + "|" + w)]
    if "suf4" in extras:
        fs.append(("suf4", w[-4:]))
    if "pre3" in extras:
        fs.append(("pre3", w[:3]))
    if "wl" in extras:
        fs.append(("wl", str(min(len(w), 8))))
    if "psh2" in extras:
        fs.append(("psh2", _twin_shape(toks[i - 2]) if i > 1 else "<bos>"))
    if gfl is not None:
        fs += [("gz", t) for t in gfl[i]]
    return fs


def _twin_trfeats(toks, i, extras):
    """Twin of perceptron._tr_feats: conditioned-transition keys for
    the transition into position i (i >= 1)."""
    fs = []
    if "trsh" in extras:
        fs.append(("trsh", _twin_shape(toks[i])))
    if "trpsh" in extras:
        fs.append(("trpsh", _twin_shape(toks[i - 1])))
    if "trw" in extras:
        fs.append(("trw", toks[i]))
    if "trpw" in extras:
        fs.append(("trpw", toks[i - 1]))
    return fs


def _twin_gazflags(toks, lex):
    """Independent gazetteer flags: brute scan of every phrase at every
    position (no first-token indexing — a different algorithm than the
    operator's)."""
    n = len(toks)
    fl = [set() for _ in range(n)]
    for ph in lex:
        L = len(ph)
        for i in range(n - L + 1):
            if tuple(toks[i:i + L]) == ph:
                if L == 1:
                    fl[i].add("S")
                else:
                    fl[i].add("B")
                    fl[i + L - 1].add("E")
                    for j in range(i + 1, i + L - 1):
                        fl[j].add("I")
    return [sorted(s) for s in fl]


def _twin_viterbi(toks, W, Wt, gfl=None, extras=()):
    n = len(toks)
    if n == 0:
        return []
    emis = [[sum(W.get((f, s), 0)
                 for f in _twin_feats(toks, i, gfl, extras))
             for s in _STATES] for i in range(n)]
    NEG = float("-inf")
    dp = [[NEG] * 5 for _ in range(n)]
    bp = [[0] * 5 for _ in range(n)]
    for s in ("O", "B", "S"):
        dp[0][_SI[s]] = emis[0][_SI[s]]
    has_tr = any(k in extras for k in ("trw", "trpw", "trsh", "trpsh"))
    for i in range(1, n):
        tf = _twin_trfeats(toks, i, extras) if has_tr else ()
        for s in _STATES:
            si = _SI[s]
            best, barg = NEG, -1
            for p in _STATES:
                if (p, s) not in _LEGAL or dp[i - 1][_SI[p]] == NEG:
                    continue
                v = dp[i - 1][_SI[p]] + Wt.get((p, s), 0)
                for f in tf:
                    v += Wt.get((f, p, s), 0)
                if v > best:
                    best, barg = v, _SI[p]
            if barg >= 0:
                dp[i][si] = best + emis[i][si]
                bp[i][si] = barg
    ends = [_SI[s] for s in ("O", "E", "S") if dp[n - 1][_SI[s]] > NEG]
    if not ends:
        return ["O"] * n
    last = max(ends, key=lambda si: (dp[n - 1][si], -si))
    seq = [last]
    for i in range(n - 1, 0, -1):
        seq.append(bp[i][seq[-1]])
    return [_STATES[k] for k in reversed(seq)]


def _twin_tags(n, spans):
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


def _twin_fit(docs, P, epochs, extras=()):
    parts = [[] for _ in range(P)]
    for d in docs:
        parts[d[0] % P].append(d)
    W, Wt = {}, {}
    avgW, avgWt = defaultdict(int), defaultdict(int)
    for _ in range(epochs):
        agg, aggt = defaultdict(int), defaultdict(int)
        for p in range(P):
            lw, lwt = dict(W), dict(Wt)
            for row in sorted(parts[p]):
                toks, gold = row[1], row[2]
                gfl = row[3] if len(row) > 3 else None
                pred = _twin_viterbi(toks, lw, lwt, gfl, extras)
                if pred == gold:
                    continue
                for i in range(len(toks)):
                    if pred[i] == gold[i]:
                        continue
                    for f in _twin_feats(toks, i, gfl, extras):
                        for s, d in ((gold[i], P), (pred[i], -P)):
                            agg[(f, s)] += d
                            lw[(f, s)] = lw.get((f, s), 0) + d
                for i in range(1, len(toks)):
                    gt = (gold[i - 1], gold[i])
                    pr = (pred[i - 1], pred[i])
                    if gt != pr:
                        updates = [(gt, P), (pr, -P)]
                        for f in _twin_trfeats(toks, i, extras):
                            updates.append(((f,) + gt, P))
                            updates.append(((f,) + pr, -P))
                        for k, d in updates:
                            aggt[k] += d
                            lwt[k] = lwt.get(k, 0) + d
        for k, v in agg.items():
            if v:
                W[k] = W.get(k, 0) + v // P
        for k, v in aggt.items():
            if v:
                Wt[k] = Wt.get(k, 0) + v // P
        for k, v in W.items():
            avgW[k] += v
        for k, v in Wt.items():
            avgWt[k] += v
    return ({k: v for k, v in avgW.items() if v},
            {k: v for k, v in avgWt.items() if v})


def _load_docs(ds, split, max_doc=None):
    where = f"WHERE doc_id < {max_doc}" if max_doc is not None else ""
    rows = duckdb.sql(
        f"SELECT doc_id, tokens, spans FROM '{FIX}/{ds}_{split}.parquet' "
        f"{where} ORDER BY doc_id").fetchall()
    return [(int(d),
             [str(x) for x in t],
             _twin_tags(len(t), [(int(s["start"]), int(s["end"]))
                                 for s in sp]))
            for d, t, sp in rows]


# --------------------------------------------------------------------------
# gates
# --------------------------------------------------------------------------

def test_ipm_fit_matches_scalar_twin_exactly(spark):
    """Spark fit_ipm == scalar IPM twin: exact integer weight dicts
    (custom train subset, 3 epochs). Covers sharding, per-epoch delta
    aggregation, exact //P mixing and the running average."""
    df = (spark.read.parquet(f"{FIX}/custom_train.parquet")
          .where(F.col("doc_id") < 120))
    W, Wt = PT.fit_ipm(df, epochs=3)
    W = {k: v for k, v in W.items() if v}
    Wt = {k: v for k, v in Wt.items() if v}
    W2, Wt2 = _twin_fit(_load_docs("custom", "train", max_doc=120),
                        P=PT.P_SHARDS, epochs=3)
    assert Wt == Wt2
    assert W == W2


def test_ipm_fit_token_conditioned_transitions_matches_twin(spark):
    """The token-conditioned-transition family (TR_KINDS): Spark
    fit_ipm == scalar twin exactly with trsh+trw stacked, the
    3-tuple Wt keys round-trip through weights_to_rows /
    rows_to_weights unchanged, and decode under the fitted weights
    matches the twin Viterbi (covers the conditioned transition score
    inside the Arrow decode UDF)."""
    extras = ("trsh", "trw")
    df = (spark.read.parquet(f"{FIX}/custom_train.parquet")
          .where(F.col("doc_id") < 120))
    W, Wt = PT.fit_ipm(df, epochs=3, extras=extras)
    W = {k: v for k, v in W.items() if v}
    Wt = {k: v for k, v in Wt.items() if v}
    W2, Wt2 = _twin_fit(_load_docs("custom", "train", max_doc=120),
                        P=PT.P_SHARDS, epochs=3, extras=extras)
    assert Wt == Wt2
    assert W == W2
    assert any(len(k) == 3 for k in Wt)  # the family actually fired
    # frozen-row round trip preserves both key shapes exactly
    rows = PT.weights_to_rows(W, Wt)
    Wr, Wtr = PT.rows_to_weights(
        [dict(zip(("kind", "val", "prev", "state", "w"), r))
         for r in rows])
    assert (Wr, Wtr) == (W, Wt)
    # decode parity under conditioned transitions
    docs = spark.read.parquet(f"{FIX}/custom_val.parquet")
    got = {(r["url"], r["start"], r["end"])
           for r in PT.decode_spans(docs, W, Wt, extras=extras).collect()}
    want = set()
    for d, toks in duckdb.sql(
            f"SELECT doc_id, tokens FROM '{FIX}/custom_val.parquet'"
    ).fetchall():
        toks = [str(x) for x in toks]
        tags = _twin_viterbi(toks, W, Wt, extras=extras)
        for a, b in PT.tags_to_spans(tags):
            want.add((str(d), a, b))
    assert got == want


def test_decode_matches_scalar_twin_exactly(spark):
    """Spark mapInPandas decode == scalar twin Viterbi per doc under the
    same small fitted weights (exact span-set equality, conll04 val)."""
    fit_df = (spark.read.parquet(f"{FIX}/conll04_train.parquet")
              .where(F.col("doc_id") < 150))
    W, Wt = PT.fit_ipm(fit_df, epochs=2)
    docs = spark.read.parquet(f"{FIX}/conll04_val.parquet")
    got = {(r["url"], r["start"], r["end"])
           for r in PT.decode_spans(docs, W, Wt).collect()}
    want = set()
    rows = duckdb.sql(
        f"SELECT doc_id, tokens FROM '{FIX}/conll04_val.parquet'"
    ).fetchall()
    for d, toks in rows:
        toks = [str(x) for x in toks]
        tags = _twin_viterbi(toks, W, Wt)
        a = None
        for i, t in enumerate(tags):
            if t == "S":
                want.add((str(d), i, i + 1))
                a = None
            elif t == "B":
                a = i
            elif t == "E" and a is not None:
                want.add((str(d), a, i + 1))
                a = None
            elif t == "O":
                a = None
    assert got == want


def _load_span_docs(ds, split, max_doc=None):
    """[(doc_id, tokens, gold_span_list)] straight from the fixture."""
    where = f"WHERE doc_id < {max_doc}" if max_doc is not None else ""
    rows = duckdb.sql(
        f"SELECT doc_id, tokens, spans FROM '{FIX}/{ds}_{split}.parquet' "
        f"{where} ORDER BY doc_id").fetchall()
    return [(int(d), [str(x) for x in t],
             [(int(s["start"]), int(s["end"])) for s in sp])
            for d, t, sp in rows]


def test_ipm_fit_gaz_matches_scalar_twin_exactly(spark):
    """Spark fit_ipm(gaz_folds=5) == scalar twin with independently
    computed CROSS-FIT gazetteer flags (conll04 train subset, 2 epochs):
    covers the fold-lexicon construction (doc_id % 5 exclusion), the
    brute-scan vs first-token-indexed flag matchers, and the ('gz', t)
    feature wiring through updates and mixing."""
    df = (spark.read.parquet(f"{FIX}/conll04_train.parquet")
          .where(F.col("doc_id") < 120))
    W, Wt = PT.fit_ipm(df, epochs=2, gaz_folds=5)
    W = {k: v for k, v in W.items() if v}
    Wt = {k: v for k, v in Wt.items() if v}

    raw = _load_span_docs("conll04", "train", max_doc=120)
    lexs = [{tuple(toks[a:b]) for d, toks, sps in raw if d % 5 != k
             for a, b in sps} for k in range(5)]
    docs = [(d, toks, _twin_tags(len(toks), sps),
             _twin_gazflags(toks, lexs[d % 5]))
            for d, toks, sps in raw]
    W2, Wt2 = _twin_fit(docs, P=PT.P_SHARDS, epochs=2)
    assert Wt == Wt2
    assert W == W2
    assert any(k[0][0] == "gz" for k in W), "gaz features never fired"


def test_decode_gaz_matches_scalar_twin_exactly(spark):
    """Spark decode_spans(gaz=...) == scalar twin Viterbi with the
    full-fit-split lexicon (exact span-set equality, conll04 val)."""
    fit_df = (spark.read.parquet(f"{FIX}/conll04_train.parquet")
              .where(F.col("doc_id") < 150))
    W, Wt = PT.fit_ipm(fit_df, epochs=2, gaz_folds=5)
    raw = _load_span_docs("conll04", "train", max_doc=150)
    full_lex = {tuple(toks[a:b]) for _, toks, sps in raw for a, b in sps}
    docs = spark.read.parquet(f"{FIX}/conll04_val.parquet")
    got = {(r["url"], r["start"], r["end"])
           for r in PT.decode_spans(
               docs, W, Wt, gaz=PT.gaz_index(full_lex)).collect()}
    want = set()
    for d, toks, _ in _load_span_docs("conll04", "val"):
        gfl = _twin_gazflags(toks, full_lex)
        tags = _twin_viterbi(toks, W, Wt, gfl)
        for a, b in PT.tags_to_spans(tags):
            want.add((str(d), a, b))
    assert got == want


def test_ipm_fit_extras_matches_scalar_twin_exactly(spark):
    """Spark fit_ipm(extras=...) == scalar twin with ALL FOUR candidate
    extra kinds (suf4/pre3/wl/psh2) stacked on gaz — covers every
    SPAN_EXTRAS wiring path through _feats, local updates and mixing
    (conll04 train subset, 2 epochs)."""
    extras = ("suf4", "pre3", "wl", "psh2")
    df = (spark.read.parquet(f"{FIX}/conll04_train.parquet")
          .where(F.col("doc_id") < 120))
    W, Wt = PT.fit_ipm(df, epochs=2, gaz_folds=5, extras=extras)
    W = {k: v for k, v in W.items() if v}
    Wt = {k: v for k, v in Wt.items() if v}

    raw = _load_span_docs("conll04", "train", max_doc=120)
    lexs = [{tuple(toks[a:b]) for d, toks, sps in raw if d % 5 != k
             for a, b in sps} for k in range(5)]
    docs = [(d, toks, _twin_tags(len(toks), sps),
             _twin_gazflags(toks, lexs[d % 5]))
            for d, toks, sps in raw]
    W2, Wt2 = _twin_fit(docs, P=PT.P_SHARDS, epochs=2, extras=extras)
    assert Wt == Wt2
    assert W == W2
    fired = {k[0][0] for k in W}
    assert set(extras) <= fired, f"extras never fired: {set(extras) - fired}"


def test_decode_extras_matches_scalar_twin_exactly(spark):
    """Spark decode_spans(extras=SPAN_EXTRAS['conll04']) == scalar twin
    Viterbi under the same extras + full-lexicon gaz — the shipped
    conll04 deployment shape (exact span-set equality, conll04 val)."""
    extras = PT.SPAN_EXTRAS["conll04"]
    fit_df = (spark.read.parquet(f"{FIX}/conll04_train.parquet")
              .where(F.col("doc_id") < 150))
    W, Wt = PT.fit_ipm(fit_df, epochs=2, gaz_folds=5, extras=extras)
    raw = _load_span_docs("conll04", "train", max_doc=150)
    full_lex = {tuple(toks[a:b]) for _, toks, sps in raw for a, b in sps}
    docs = spark.read.parquet(f"{FIX}/conll04_val.parquet")
    got = {(r["url"], r["start"], r["end"])
           for r in PT.decode_spans(
               docs, W, Wt, gaz=PT.gaz_index(full_lex),
               extras=extras).collect()}
    want = set()
    for d, toks, _ in _load_span_docs("conll04", "val"):
        gfl = _twin_gazflags(toks, full_lex)
        tags = _twin_viterbi(toks, W, Wt, gfl, extras)
        for a, b in PT.tags_to_spans(tags):
            want.add((str(d), a, b))
    assert got == want


def test_weights_rows_roundtrip():
    W = {(("w", "fire"), "B"): 7, (("sh", "cap"), "O"): -3,
         (("suf", "ing"), "S"): 0}
    Wt = {("O", "B"): 5, ("B", "E"): -2}
    rows = PT.weights_to_rows(W, Wt)
    # zero weights drop; rows sort deterministically
    assert len(rows) == 4
    assert rows == sorted(rows)
    W2, Wt2 = PT.rows_to_weights(
        [dict(zip(("kind", "val", "prev", "state", "w"), r)) for r in rows])
    assert W2 == {k: v for k, v in W.items() if v}
    assert Wt2 == Wt


def test_tags_spans_roundtrip():
    spans = [(0, 1), (2, 5), (7, 9)]
    tags = PT.spans_to_tags(10, spans)
    assert PT.tags_to_spans(tags) == spans
    # malformed sequences never crash and never emit inverted spans
    for bad in (["E", "I", "B"], ["I", "I"], ["B", "O", "E"], []):
        for a, b in PT.tags_to_spans(bad):
            assert a < b


# --------------------------------------------------------------------------
# relation perceptron (fit_rel_ipm / predict_rels_ptron) vs scalar twins:
# independent pair-generation and base-feature twins (no production code
# paths; _twin_nb_shape is the fitted.SHAPE_RULES twin and
# _twin_pair_feats the fitted.pair_features twin, not the span
# perceptron's _twin_shape/_twin_feats).
# --------------------------------------------------------------------------

def _twin_nb_shape(w: str) -> str:
    if re.search(r"[0-9]", w):
        return "Num"
    if re.match(r"^[A-Z][a-z]+$", w):
        return "Cap"
    if re.match(r"^[A-Z]{2,}$", w):
        return "ALL"
    if re.match(r"^[a-z]+$", w):
        return "low"
    return "other"


def _twin_gold_rels(df):
    out = set()
    for _, r in df.iterrows():
        sp = r.spans
        for rel in r.relations:
            h, t = sp[rel["head"]], sp[rel["tail"]]
            out.add((str(r.doc_id), h["start"], h["end"],
                     t["start"], t["end"]))
    return out


def _twin_pair_feats(toks, a, b):
    gap = b[0] - a[1]
    gb = str(gap) if gap < 6 else ("10" if gap <= 10
                                   else ("20" if gap <= 20 else "30"))
    fs = [("gap", gb)]
    btw = toks[a[1]:b[0]]
    for w in set(btw):
        fs.append(("btw", w))
    for i in range(len(btw) - 1):
        fs.append(("btw2", btw[i] + " " + btw[i + 1]))
    fs.append(("first", btw[0] if btw else "<adj>"))
    fs.append(("last", btw[-1] if btw else "<adj>"))
    fs.append(("pre", toks[a[0] - 1] if a[0] > 0 else "<bos>"))
    fs.append(("post", toks[b[1]] if b[1] < len(toks) else "<eos>"))
    fs.append(("hl", toks[a[1] - 1]))
    fs.append(("tl", toks[b[1] - 1]))
    fs.append(("hlsh", _twin_nb_shape(toks[a[1] - 1])))
    fs.append(("tlsh", _twin_nb_shape(toks[b[1] - 1])))
    fs.append(("hw", str(min(a[1] - a[0], 8))))
    fs.append(("tw", str(min(b[1] - b[0], 8))))
    return set(fs)


def _twin_pairs(df, spans_by_doc):
    rows = []
    for _, r in df.iterrows():
        url = str(r.doc_id)
        toks = [str(t) for t in r.tokens]
        sps = sorted(spans_by_doc.get(url, []))
        for i, a in enumerate(sps):
            for b in sps[i + 1:]:
                if a[1] <= b[0] and b[0] - a[1] <= 30:
                    rows.append((url, a, b, _twin_pair_feats(toks, a, b)))
    return rows


def _twin_extra_feats(toks, a, b, extras):
    """Independent twin of the REL_EXTRAS feature kinds
    (fitted.pair_features extra_kinds): fl, hltl, hfsh/tfsh (perceptron
    shape of each span's FIRST token), hf/tf (the first token itself),
    hbow/tbow."""
    (hs, he), (ts, te) = a, b
    fs = set()
    if "fl" in extras:
        first = toks[he] if ts > he else "<adj>"
        last = toks[ts - 1] if ts > he else "<adj>"
        fs.add(("fl", first + "|" + last))
    if "hltl" in extras:
        fs.add(("hltl", toks[he - 1] + "|" + toks[te - 1]))
    if "hfsh" in extras:
        fs.add(("hfsh", _twin_shape(toks[hs])))
        fs.add(("tfsh", _twin_shape(toks[ts])))
    if "hf" in extras:
        fs.add(("hf", toks[hs]))
    if "tf" in extras:
        fs.add(("tf", toks[ts]))
    if "hbow" in extras:
        fs |= {("hbow", toks[i]) for i in range(hs, he)}
    if "tbow" in extras:
        fs |= {("tbow", toks[i]) for i in range(ts, te)}
    return fs


def _twin_rel_items(df, extras=()):
    """(url_int, a, b, y, feats+extras+bias) labeled gold-span candidate
    pairs, fwd-wins on a both-direction pair (the production min-y
    rule)."""
    sbd = collections.defaultdict(set)
    toks_by = {}
    for _, r in df.iterrows():
        toks_by[str(r.doc_id)] = [str(t) for t in r.tokens]
        for s in r.spans:
            sbd[str(r.doc_id)].add((s["start"], s["end"]))
    gr = _twin_gold_rels(df)
    fwd = {(u, hs, he, ts, te) for (u, hs, he, ts, te) in gr if hs <= ts}
    bwd = {(u, ts, te, hs, he) for (u, hs, he, ts, te) in gr if hs > ts}
    items = []
    for (u, a, b, fs) in _twin_pairs(df, sbd):
        key = (u, a[0], a[1], b[0], b[1])
        y = 1 if key in fwd else (2 if key in bwd else 0)
        fs = fs | _twin_extra_feats(toks_by[u], a, b, extras)
        items.append((int(u), a, b, y, fs | {("bias", "")}))
    return items


def _twin_rel_fit(items, P, epochs):
    parts = [[] for _ in range(P)]
    for it in items:
        parts[it[0] % P].append(it)
    for p in parts:
        p.sort(key=lambda it: (it[0], it[1], it[2]))
    W = {}
    avg = collections.defaultdict(int)
    for _ in range(epochs):
        agg = collections.defaultdict(int)
        for part in parts:
            lw = dict(W)
            for _, a, b, y, fs in part:
                sc = [sum(lw.get((f, c), 0) for f in fs) for c in range(3)]
                pred = max(range(3), key=lambda c: (sc[c], -c))
                if pred != y:
                    for f in fs:
                        agg[(f, y)] += P
                        agg[(f, pred)] -= P
                        lw[(f, y)] = lw.get((f, y), 0) + P
                        lw[(f, pred)] = lw.get((f, pred), 0) - P
        for k, v in agg.items():
            if v:
                W[k] = W.get(k, 0) + v // P
        for k, v in W.items():
            avg[k] += v
    return {k: v for k, v in avg.items() if v}


def test_rel_ipm_fit_matches_scalar_twin_exactly(spark):
    """Spark fit_rel_ipm == scalar twin: exact integer weight dicts
    (custom train subset, 2 epochs, the custom REL_EXTRAS so the
    hfsh/tfsh shape twin and fl conjunction are covered). Covers
    labeled-pair generation (min-y rule), the bias feature, extras,
    shard ordering, delta aggregation and exact //P mixing."""
    extras = PT.REL_EXTRAS["custom"]
    df = (spark.read.parquet(f"{FIX}/custom_train.parquet")
          .where(F.col("doc_id") < 150))
    W = {k: v for k, v in
         PT.fit_rel_ipm(df, epochs=2, extras=extras).items() if v}
    pdf = duckdb.sql(
        f"SELECT * FROM '{FIX}/custom_train.parquet' "
        f"WHERE doc_id < 150 ORDER BY doc_id").df()
    W2 = _twin_rel_fit(_twin_rel_items(pdf, extras), P=PT.P_SHARDS,
                       epochs=2)
    assert W == W2


def test_predict_rels_ptron_matches_twin(spark):
    """Spark inference under the FROZEN rel weights == scalar twin
    (exact oriented rel-set equality on the conll04 test split over the
    frozen perceptron spans) — the same chain the ptron_full_eval
    oracle recomputes in SQL, gated here against an independent Python
    path too."""
    ds = "conll04"
    extras = PT.REL_EXTRAS[ds]
    rel_w = spark.read.parquet(f"{PT_FIX}/{ds}_rel_weights.parquet")
    spans = spark.read.parquet(f"{PT_FIX}/{ds}_pred_spans.parquet")
    docs = spark.read.parquet(f"{FIX}/{ds}_test.parquet") \
        .withColumn("url", F.col("doc_id").cast("string"))
    rt = spark.createDataFrame([("x",)], "rel_type string")
    got = {(r["url"], r["h_start"], r["h_end"], r["t_start"], r["t_end"])
           for r in PT.predict_rels_ptron(spans, docs, rel_w, rt,
                                          extras=extras).collect()}

    W = PT.load_frozen_rel_weights(f"{PT_FIX}/{ds}_rel_weights.parquet")
    sbd = collections.defaultdict(set)
    for u, s, e in duckdb.sql(
            f"SELECT url, start, \"end\" "
            f"FROM '{PT_FIX}/{ds}_pred_spans.parquet'").fetchall():
        sbd[str(u)].add((int(s), int(e)))
    pdf = duckdb.sql(
        f"SELECT * FROM '{FIX}/{ds}_test.parquet' ORDER BY doc_id").df()
    toks_by = {str(r.doc_id): [str(t) for t in r.tokens]
               for _, r in pdf.iterrows()}
    want = set()
    for (u, a, b, fs) in _twin_pairs(pdf, sbd):
        fs = (fs | _twin_extra_feats(toks_by[u], a, b, extras)
              | {("bias", "")})
        sc = [sum(W.get((f, c), 0) for f in fs) for c in range(3)]
        pred = max(range(3), key=lambda c: (sc[c], -c))
        if pred == 1:
            want.add((u, a[0], a[1], b[0], b[1]))
        elif pred == 2:
            want.add((u, b[0], b[1], a[0], a[1]))
    assert got == want


def test_ptron_shape_engine_twins_exact(spark):
    """perceptron.ptron_shape_col (Java regex) and
    PTRON_SHAPE_SQL_DUCK_FMT (RE2) match the Python _shape predicates
    on EVERY distinct token of both reference corpora (incl. the
    custom set's non-ASCII tokens: Æthelred, Île, ’ …) plus crafted
    edge cases — the exactness gate for the hfsh/tfsh REL_EXTRAS.
    Iterates every G.REFERENCE_DATASETS corpus (not a hardcoded pair)
    so adding a dataset automatically extends the gate."""
    from causalre_spark import gold_eval as G

    toks = {"", "3M", "Æthelred", "Île", "’", "café", "can't", "USA",
            "x1", "--", "a-b"}
    for ds in sorted(G.REFERENCE_DATASETS):
        for split in ("train", "val", "test"):
            for (arr,) in duckdb.sql(
                    f"SELECT tokens FROM '{FIX}/{ds}_{split}.parquet'"
            ).fetchall():
                toks.update(str(t) for t in arr)
    rows = sorted(toks)
    want = {w: PT._shape(w) for w in rows}
    got_spark = {
        r["w"]: r["sh"]
        for r in spark.createDataFrame([(w,) for w in rows], "w string")
        .select("w", PT.ptron_shape_col(F.col("w")).alias("sh"))
        .collect()}
    assert got_spark == want
    duck = duckdb.execute(
        "SELECT w, "
        + PT.PTRON_SHAPE_SQL_DUCK_FMT.format(col="w")
        + " AS sh FROM (SELECT unnest(?) AS w)", [rows]
    ).fetchall()
    assert {w: sh for w, sh in duck} == want


@pytest.mark.parametrize("ds,floor", [("conll04", 0.45), ("custom", 0.15)])
def test_rel_perceptron_quality_gate(spark, ds, floor):
    """The oracle-gated all-perceptron eval clears the GOLD_EVAL.md rel
    F1 floor (the recorded test F1s live in the GOLD_EVAL.md tables —
    REL_EXTRAS selected on val and re-confirmed under the gaz span
    chain; every selection signal is val/CV only, never test)."""
    from causalre_spark.plans.entry_queries import QUERIES

    rows = {r.task: r for r in
            QUERIES[f"ptron_full_eval_{ds}"](spark, "").collect()}
    assert rows["rel"].f1 >= floor


@pytest.mark.parametrize("ds,floor", [("conll04", 0.78), ("custom", 0.30)])
def test_frozen_weights_quality_gate(spark, ds, floor):
    """Decode under the FROZEN weights reproduces the frozen prediction
    fixture exactly (catches stale fixtures after operator changes) and
    clears the GOLD_EVAL.md strict span F1 floor."""
    W, Wt = PT.load_frozen_weights(f"{PT_FIX}/{ds}_weights.parquet")
    docs = spark.read.parquet(f"{FIX}/{ds}_test.parquet")
    got = {(r["url"], r["start"], r["end"])
           for r in PT.decode_spans(
               docs, W, Wt,
               gaz=PT.frozen_gaz_for(ds, PT_FIX),
               extras=PT.SPAN_EXTRAS[ds]).collect()}
    frozen = {(r[0], r[1], r[2]) for r in duckdb.sql(
        f"SELECT url, start, \"end\" "
        f"FROM '{PT_FIX}/{ds}_pred_spans.parquet'").fetchall()}
    assert got == frozen
    gold = {(str(r[0]), int(r[1]), int(r[2])) for r in duckdb.sql(
        f"SELECT doc_id, s.\"start\", s.\"end\" FROM "
        f"(SELECT doc_id, unnest(spans) AS s "
        f" FROM '{FIX}/{ds}_test.parquet')").fetchall()}
    tp = len(got & gold)
    prec = tp / max(len(got), 1)
    rec = tp / max(len(gold), 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-12)
    assert f1 >= floor, f"{ds} frozen-perceptron span F1 {f1:.4f} < {floor}"
