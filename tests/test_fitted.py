"""Fitted HMM span tagger + NB relation classifier (operators/fitted.py)
vs an INDEPENDENT scalar-Python twin, plus quality-regression gates on
the reference's own gold test splits.

The twin re-implements fit + Viterbi + NB from the raw parquet fixtures
with plain dicts/loops (no Spark, no shared code paths beyond the module
constants) — exact span-set / rel-set equality proves the relational
fit, the Arrow decode UDF and the integer-grid NB algebra all compute
the documented model. The F1 gates pin the headline quality numbers in
GOLD_EVAL.md (VERDICT r03 next-round #1: rel F1 off zero)."""

from __future__ import annotations

import collections
import math
import os
import re

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from causalre_spark import FIXTURES_DIR
from causalre_spark import gold_eval as G
from causalre_spark.operators import fitted as FT

FIX = os.path.join(FIXTURES_DIR, "gazetteer")
GRID = 0.3141592653589793


# --------------------------------------------------------------------------
# independent twin
# --------------------------------------------------------------------------

def _twin_shape(w: str) -> str:
    if re.search(r"[0-9]", w):
        return "Num"
    if re.match(r"^[A-Z][a-z]+$", w):
        return "Cap"
    if re.match(r"^[A-Z]{2,}$", w):
        return "ALL"
    if re.match(r"^[a-z]+$", w):
        return "low"
    return "other"


_T_STATES = ["O", "B", "I", "E", "S"]
_T_SI = {s: i for i, s in enumerate(_T_STATES)}
_T_LEGAL = {("O", "O"), ("O", "B"), ("O", "S"), ("B", "I"), ("B", "E"),
            ("I", "I"), ("I", "E"), ("E", "O"), ("E", "B"), ("E", "S"),
            ("S", "O"), ("S", "B"), ("S", "S")}


def _twin_load(ds: str, split: str):
    con = duckdb.connect()
    return con.execute(
        f"select * from '{FIX}/{ds}_{split}.parquet' order by doc_id"
    ).df()


def _twin_label(toks, spans):
    lab = ["O"] * len(toks)
    for s in spans:  # later array index wins on overlap
        a, b = s["start"], s["end"]
        if b - a == 1:
            lab[a] = "S"
        else:
            lab[a] = "B"
            lab[b - 1] = "E"
            for i in range(a + 1, b - 1):
                lab[i] = "I"
    return lab


def _twin_fit_hmm(train):
    em = collections.defaultdict(lambda: [0] * 5)
    emsh = collections.defaultdict(lambda: [0] * 5)
    emprev = collections.defaultdict(lambda: [0] * 5)
    emnext = collections.defaultdict(lambda: [0] * 5)
    empsh = collections.defaultdict(lambda: [0] * 5)
    emnsh = collections.defaultdict(lambda: [0] * 5)
    tr = collections.defaultdict(int)
    st = collections.defaultdict(int)
    init = collections.defaultdict(int)
    fin = collections.defaultdict(int)
    ntok = 0
    for _, r in train.iterrows():
        toks = [str(t) for t in r.tokens]
        if not toks:
            continue
        lab = _twin_label(toks, r.spans)
        init[lab[0]] += 1
        fin[lab[-1]] += 1
        for i, (w, l) in enumerate(zip(toks, lab)):
            em[w][_T_SI[l]] += 1
            emsh[_twin_shape(w)][_T_SI[l]] += 1
            pt = toks[i - 1] if i > 0 else "<bos>"
            nt = toks[i + 1] if i < len(toks) - 1 else "<eos>"
            emprev[pt][_T_SI[l]] += 1
            emnext[nt][_T_SI[l]] += 1
            empsh["<bos>" if pt == "<bos>" else _twin_shape(pt)][_T_SI[l]] += 1
            emnsh["<eos>" if nt == "<eos>" else _twin_shape(nt)][_T_SI[l]] += 1
            st[l] += 1
            ntok += 1
            if i:
                tr[(lab[i - 1], l)] += 1
    return dict(em=em, emsh=emsh, emprev=emprev, emnext=emnext,
                empsh=empsh, emnsh=emnsh, tr=tr, st=st, init=init,
                fin=fin, ntok=ntok)


def _twin_viterbi(toks, M, m=3.0, alpha=1.0):
    n = len(toks)
    if n == 0:
        return []
    NEG = -1e18
    ninit = sum(M["init"].values())
    nfin = sum(M["fin"].values())

    def emis(i, s):
        w = toks[i]
        si = _T_SI[s]
        sh = M["emsh"].get(_twin_shape(w), [0] * 5)
        psh = (sh[si] + alpha) / (sum(sh) + 5 * alpha)
        e = M["em"].get(w, [0] * 5)
        post = (e[si] + m * psh) / (sum(e) + m)
        prior = M["st"][s] / M["ntok"]
        tot = math.log(post) - math.log(prior)
        pt = toks[i - 1] if i > 0 else "<bos>"
        nt = toks[i + 1] if i < n - 1 else "<eos>"
        for tab, key in (("emprev", pt), ("emnext", nt),
                         ("empsh", "<bos>" if pt == "<bos>"
                          else _twin_shape(pt)),
                         ("emnsh", "<eos>" if nt == "<eos>"
                          else _twin_shape(nt))):
            e2 = M[tab].get(key, [0] * 5)
            p2 = (e2[si] + m * prior) / (sum(e2) + m)
            tot += 0.75 * (math.log(p2) - math.log(prior))
        return tot

    V = [[NEG] * 5 for _ in range(n)]
    bp = [[0] * 5 for _ in range(n)]
    for s in ("O", "B", "S"):
        V[0][_T_SI[s]] = math.log(
            (M["init"].get(s, 0) + alpha) / (ninit + 5 * alpha)
        ) + emis(0, s)
    for i in range(1, n):
        for s in _T_STATES:
            best, arg = NEG, 0
            for p in _T_STATES:
                if (p, s) not in _T_LEGAL or V[i - 1][_T_SI[p]] <= NEG / 2:
                    continue
                v = V[i - 1][_T_SI[p]] + math.log(
                    (M["tr"].get((p, s), 0) + alpha)
                    / (M["st"][p] + 5 * alpha))
                if v > best:
                    best, arg = v, _T_SI[p]
            if best > NEG / 2:
                V[i][_T_SI[s]] = best + emis(i, s)
                bp[i][_T_SI[s]] = arg
    bestv, cur = NEG, 0
    for s in ("O", "E", "S"):
        if V[n - 1][_T_SI[s]] > NEG / 2:
            v = V[n - 1][_T_SI[s]] + math.log(
                (M["fin"].get(s, 0) + alpha) / (nfin + 5 * alpha))
            if v > bestv:
                bestv, cur = v, _T_SI[s]
    seq = [cur]
    for i in range(n - 1, 0, -1):
        cur = bp[i][cur]
        seq.append(cur)
    labels = [_T_STATES[k] for k in reversed(seq)]
    out, a = [], None
    for i, lbl in enumerate(labels):
        if lbl == "S":
            out.append((i, i + 1))
            a = None
        elif lbl == "B":
            a = i
        elif lbl == "E" and a is not None:
            out.append((a, i + 1))
            a = None
        elif lbl == "O":
            a = None
    return out


def _twin_gold_spans(df):
    return {(str(r.doc_id), s["start"], s["end"])
            for _, r in df.iterrows() for s in r.spans}


def _twin_gold_rels(df):
    out = set()
    for _, r in df.iterrows():
        sp = r.spans
        for rel in r.relations:
            h, t = sp[rel["head"]], sp[rel["tail"]]
            out.add((str(r.doc_id), h["start"], h["end"],
                     t["start"], t["end"]))
    return out


def _twin_feats(toks, a, b):
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
    fs.append(("hlsh", _twin_shape(toks[a[1] - 1])))
    fs.append(("tlsh", _twin_shape(toks[b[1] - 1])))
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
                    rows.append((url, a, b, _twin_feats(toks, a, b)))
    return rows


def _twin_fit_rel(train):
    sbd = collections.defaultdict(set)
    for _, r in train.iterrows():
        for s in r.spans:
            sbd[str(r.doc_id)].add((s["start"], s["end"]))
    gr = _twin_gold_rels(train)
    fwd = {(u, hs, he, ts, te) for (u, hs, he, ts, te) in gr if hs <= ts}
    bwd = {(u, ts, te, hs, he) for (u, hs, he, ts, te) in gr if hs > ts}
    fc = collections.defaultdict(lambda: [0, 0, 0])
    cls = [0, 0, 0]
    for (u, a, b, fs) in _twin_pairs(train, sbd):
        key = (u, a[0], a[1], b[0], b[1])
        y = 1 if key in fwd else (2 if key in bwd else 0)
        cls[y] += 1
        for f in fs:
            fc[f][y] += 1

    def iw(num, den):
        return math.floor(1000.0 * math.log(num / den) + GRID)

    W = {f: [iw(c[y] + 1.0, cls[y] + 2.0) for y in range(3)]
         for f, c in fc.items() if sum(c) >= 3}
    pri = [iw(cls[y] + 1.0, sum(cls) + 3.0) for y in range(3)]
    return W, pri


def _twin_predict_rel(test, W, pri, pred_spans):
    sbd = collections.defaultdict(set)
    for (u, s, e) in pred_spans:
        sbd[u].add((s, e))
    pred = set()
    for (u, a, b, fs) in _twin_pairs(test, sbd):
        sc = list(pri)
        for f in fs:
            w = W.get(f)
            if w is None:
                continue
            for y in range(3):
                sc[y] += w[y]
        if sc[1] > sc[0] + 1500 and sc[1] >= sc[2]:
            pred.add((u, a[0], a[1], b[0], b[1]))
        elif sc[2] > sc[0] + 1500 and sc[2] > sc[1]:
            pred.add((u, b[0], b[1], a[0], a[1]))
    return pred


def _twin_prf(pred, gold):
    tp = len(pred & gold)
    fp = len(pred - gold)
    fn = len(gold - pred)
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    return tp, fp, fn, 2 * p * r / max(p + r, 1e-12)


# --------------------------------------------------------------------------
# parity + gates
# --------------------------------------------------------------------------

@pytest.mark.parametrize("ds", ["custom", "conll04"])
def test_fitted_parity_and_gates(spark, ds):
    train = G.load_gold_fit_split(spark, ds)  # train ∪ val (refit split)
    test = G.load_gold_split(spark, ds, "test")

    # Spark fit + decode
    model = FT.collect_hmm_model(FT.fit_hmm(train))
    spark_spans = {(r["url"], r["start"], r["end"])
                   for r in FT.decode_spans(test, model).collect()}

    # twin fit + decode from the frozen raw-split fixtures (same
    # train ∪ val union, same doc-id offset as gold_eval)
    ttrain = _twin_load(ds, "train")
    tval = _twin_load(ds, "val")
    tval = tval.assign(doc_id=tval["doc_id"] + G.VAL_DOC_OFFSET)
    ttrain = pd.concat([ttrain, tval], ignore_index=True)
    ttest = _twin_load(ds, "test")
    tm = _twin_fit_hmm(ttrain)
    twin_spans = set()
    for _, r in ttest.iterrows():
        for (a, b) in _twin_viterbi([str(t) for t in r.tokens], tm):
            twin_spans.add((str(r.doc_id), a, b))
    assert spark_spans == twin_spans

    # Spark NB rels over the decoded spans
    weights, priors = FT.fit_rel_nb(train)
    pred_spans_df = FT.decode_spans(test, model)
    from causalre_spark.operators.gazetteer import majority_rel_type
    rels_df = FT.predict_rels_nb(pred_spans_df, test, weights, priors,
                                 majority_rel_type(train))
    spark_rels = {(r["url"], r["h_start"], r["h_end"],
                   r["t_start"], r["t_end"]) for r in rels_df.collect()}

    W, pri = _twin_fit_rel(ttrain)
    twin_rels = _twin_predict_rel(ttest, W, pri, twin_spans)
    assert spark_rels == twin_rels

    # quality-regression gates (GOLD_EVAL.md headline numbers)
    gs = _twin_gold_spans(ttest)
    gr = _twin_gold_rels(ttest)
    stp, sfp, sfn, sf1 = _twin_prf(twin_spans, gs)
    rtp, rfp, rfn, rf1 = _twin_prf(twin_rels, gr)
    if ds == "conll04":
        assert sf1 >= 0.70, (stp, sfp, sfn, sf1)
        assert rf1 >= 0.34, (rtp, rfp, rfn, rf1)
    else:
        assert sf1 >= 0.35, (stp, sfp, sfn, sf1)
        assert rf1 >= 0.20, (rtp, rfp, rfn, rf1)


def test_viterbi_empty_and_single():
    """Edge shapes: empty docs decode to nothing; the model handles a
    one-token doc (init+fin only, no transitions)."""
    model = {"em": {"boom": [0, 0, 0, 0, 3]}, "emsh": {"low": [1, 0, 0, 0, 3]},
             "tr": {}, "st": {"O": 1, "B": 1, "I": 1, "E": 1, "S": 3},
             "init": {"S": 3, "O": 1}, "fin": {"S": 3, "O": 1}, "ntok": 7}
    assert FT.viterbi_spans([], model) == []
    assert FT.viterbi_spans(["boom"], model) == [(0, 1)]


def test_viterbi_degenerate_models():
    """Graceful handling of fit pathologies: a state absent from the
    train split (st['S']==0) must not crash the decode (log(0) guard);
    an empty fit fails loudly."""
    model = {"em": {"x": [2, 1, 1, 1, 0]},
             "emsh": {"low": [2, 1, 1, 1, 0]},
             "tr": {("B", "E"): 1, ("O", "O"): 1},
             "st": {"O": 2, "B": 1, "I": 1, "E": 1, "S": 0},
             "init": {"O": 1, "B": 1}, "fin": {"O": 1, "E": 1}, "ntok": 5}
    spans = FT.viterbi_spans(["x", "x", "x"], model)
    assert all(e - s >= 2 for s, e in spans)  # width-1 spans unusable
    empty = dict(model, st={s: 0 for s in "OBIES"}, ntok=0)
    with pytest.raises(ValueError):
        FT.viterbi_spans(["x"], empty)
