"""Single-process golden oracle for the end-to-end pipeline.

Implements the reference's inference stage order (model.py:728-1134:
encode -> tagger -> top-k spans -> span filter -> top-k -> pair gen ->
rel scorer -> top-k rels -> decode -> NMS -> hanging-rel prune) plus our
north_rule additions (entity linking, canonicalization, triple dedup) as
plain Python loops. It shares ONLY the frozen model math
(causalre_spark.model.core) and scalar text helpers with the Spark
pipeline — every relational step (top-k, joins, dedup, LSH banding,
connected components) is re-derived independently here, so a
Spark-vs-oracle match validates the distributed algebra.

Deterministic tie-break orders (must match operators/*.py exactly):
  top-k spans : (-filter_score, start, end)
  NMS order   : (-filter_score, -(width), start, end); keep if max IoU
                with any kept span < overlap_thd (model.py:637-721
                longer-span preference)
  top-k rels  : (-rel_score, h_start, h_end, t_start, t_end)
"""

from __future__ import annotations

from collections import defaultdict

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.extract import extract_text, tokenize
from causalre_spark.functions.hashing import md5_long
from causalre_spark.functions.text import char_shingles, jaccard, minhash_signature, normalize
from causalre_spark.model import core


def iou(s1: int, e1: int, s2: int, e2: int) -> float:
    inter = max(0, min(e1, e2) - max(s1, s2))
    union = (e1 - s1) + (e2 - s2) - inter
    return inter / union if union else 0.0


def doc_spans(tokens: list[str], cfg: PipelineConfig) -> list[dict]:
    """Tagger decode -> span filter -> top-k -> NMS for one document.

    Scores come from the shared batch primitives (model/batch.py — the
    same functions the Spark UDFs call, so floats agree exactly); the
    selection logic (threshold, top-k, NMS) is re-derived here with
    independent Python loops."""
    from causalre_spark.model import batch

    enc = batch.DocEncoding(tokens, cfg)
    b, e = batch.tagger_logits_batch(enc)
    starts, ends, tag_scores = batch.decode_spans_batch(b, e, cfg)
    fscores = batch.span_filter_scores_batch(enc, starts, ends)
    scored = [
        {"start": int(s), "end": int(t), "tag_score": float(ts),
         "filter_score": float(fs), "span_type": "event"}
        for s, t, ts, fs in zip(starts, ends, tag_scores, fscores)
    ]
    scored = [r for r in scored if r["filter_score"] >= cfg.span_thd]
    scored.sort(key=lambda r: (-r["filter_score"], r["start"], r["end"]))
    topk = scored[: cfg.max_top_k_spans]
    # greedy NMS, longer-span preference
    order = sorted(topk, key=lambda r: (-r["filter_score"], -(r["end"] - r["start"]),
                                        r["start"], r["end"]))
    kept: list[dict] = []
    for r in order:
        if all(iou(r["start"], r["end"], k["start"], k["end"]) < cfg.overlap_thd
               for k in kept):
            kept.append(r)
    kept.sort(key=lambda r: (r["start"], r["end"]))
    return kept


def doc_relations(tokens: list[str], spans: list[dict], cfg: PipelineConfig) -> list[dict]:
    """Pair cartesian (head != tail) -> rel score -> top-k -> threshold.

    Pair enumeration / top-k / threshold re-derived with loops; scores
    from the shared batch primitive (one call over all pairs, matching
    the UDF's shapes so float accumulation is identical)."""
    import numpy as np

    from causalre_spark.model import batch

    enc = batch.DocEncoding(tokens, cfg)
    keys = []
    for h in spans:
        for t in spans:
            if (h["start"], h["end"]) == (t["start"], t["end"]):
                continue
            keys.append((h["start"], h["end"], t["start"], t["end"]))
    if keys:
        arr = np.array(keys, dtype=np.int64)
        scores = batch.rel_scores_batch(enc, arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3])
    else:
        scores = []
    pairs = [
        {"h_start": hs, "h_end": he, "t_start": ts, "t_end": te,
         "rel_score": float(sc), "rel_type": "causal"}
        for (hs, he, ts, te), sc in zip(keys, scores)
    ]
    pairs.sort(key=lambda r: (-r["rel_score"], r["h_start"], r["h_end"],
                              r["t_start"], r["t_end"]))
    pairs = pairs[: cfg.max_top_k_rels]
    thd = core.logit(cfg.rel_thd) if cfg.rel_thd != 0.5 else 0.0
    return [p for p in pairs if p["rel_score"] >= thd]


def doc_extract_reference_oracle(tokens: list[str], cfg: PipelineConfig
                                 ) -> tuple[list[dict], list[dict]]:
    """Reference-profile twin of doc_spans + doc_relations: re-derives
    every selection step (candidate cap, tths top-k, pair enumeration,
    rel top-k, NMS, hanging-rel prune, typed positive extraction) with
    independent Python loops, calling ONLY the shared math primitives in
    model/reference_math.py. A Spark-vs-oracle match therefore validates
    the distributed algebra, not the shared floats."""
    import numpy as np

    from causalre_spark.model import reference_math as rm

    toks = tokens[: cfg.max_seq_len]
    reps, cls_rep = rm.encode_stack(tokens, cfg)
    if cfg.tagging_mode == "BECO":
        starts, ends, tag_scores = rm.decode_beco(rm.tagger_beco(reps, toks), cfg)
    else:
        b, e = rm.tagger_be(reps, toks)
        starts, ends, tag_scores = rm.decode_be(b, e, cfg)
    # stage 1 (tths): prune to the pre-cap by tagger score
    cands = sorted(
        ({"start": int(s), "end": int(t), "score": float(sc)}
         for s, t, sc in zip(starts, ends, tag_scores)),
        key=lambda r: (-r["score"], r["start"], r["end"]))
    if cfg.max_tagger_candidates:
        cands = cands[: cfg.max_tagger_candidates]
    if not cands:
        return [], []
    # stage 2 (bfhs): N8 reps + N9 filter head (crossing penalty = frozen
    # trained behavior) -> top-k by filter score
    c_s = np.array([r["start"] for r in cands], dtype=np.int64)
    c_e = np.array([r["end"] for r in cands], dtype=np.int64)
    # mode dispatch mirrors doc_extract_reference (cfg.span_mode /
    # cfg.rel_mode) so the parity gate covers non-default modes too
    reps_all = rm.span_reps_by_mode(reps, c_s, c_e, cls_rep, cfg,
                                    with_width=True, with_cls=True)
    f_all = rm.filter_head_single(reps_all, "span_filter")
    for i, r in enumerate(cands):
        crossing = any(t in core.BOUNDARY_TOKENS
                       for t in toks[r["start"]: r["end"]])
        # float32 arithmetic so the value is bit-identical to the UDF side
        r["fscore"] = float(f_all[i] - np.float32(5.0)) if crossing else float(f_all[i])
        r["rep_idx"] = i
    cands.sort(key=lambda r: (-r["fscore"], r["start"], r["end"]))
    topk = cands[: cfg.max_top_k_spans]
    if not topk:
        return [], []
    s_arr = np.array([r["start"] for r in topk], dtype=np.int64)
    e_arr = np.array([r["end"] for r in topk], dtype=np.int64)
    span_reps = reps_all[[r["rep_idx"] for r in topk]]
    span_reps_rel = rm.span_reps_by_mode(reps, s_arr, e_arr, None, cfg,
                                         with_width=False, with_cls=False,
                                         variant="_rel")
    k = len(topk)
    pair_idx = [(h, t) for h in range(k) for t in range(k) if h != t]
    h_idx = np.array([p[0] for p in pair_idx], dtype=np.int64)
    t_idx = np.array([p[1] for p in pair_idx], dtype=np.int64)
    rel_reps = rm.rel_reps_by_mode(
        reps, span_reps_rel, s_arr, e_arr, h_idx, t_idx, cfg)
    bridge_all = rm._trigger_bridge_flags(toks, s_arr, e_arr, h_idx, t_idx)
    rel_filter = (rm.filter_head_single(rel_reps, "rel_filter")
                  + core.TRIGGER_REL_BOOST * bridge_all)
    ranked = sorted(
        range(len(pair_idx)),
        key=lambda i: (-float(rel_filter[i]),
                       int(s_arr[h_idx[i]]), int(e_arr[h_idx[i]]),
                       int(s_arr[t_idx[i]]), int(e_arr[t_idx[i]])))
    keep_r = ranked[: cfg.max_top_k_rels]
    h_idx, t_idx, rel_reps = h_idx[keep_r], t_idx[keep_r], rel_reps[keep_r]
    bridge = bridge_all[keep_r]
    if cfg.use_graph:
        node_reps, edge_reps = rm.graph_transformer(span_reps, rel_reps)
    else:
        node_reps, edge_reps = span_reps, rel_reps
    crosses = np.array(
        [any(t in core.BOUNDARY_TOKENS for t in toks[r["start"]:r["end"]])
         for r in topk], dtype=bool)
    sp_ids, sp_probs = rm.decode_unilabel(rm.span_type_logits(node_reps, ~crosses))
    rl_logits = rm.rel_type_logits(edge_reps, bridge)
    rl_keep, _ = rm.decode_multilabel(rl_logits, cfg.predict_thd)
    # NMS re-derived: order (-prob, -width, start, end), positives only
    order = sorted(
        range(k),
        key=lambda i: (-float(sp_probs[i]), -(topk[i]["end"] - topk[i]["start"]),
                       topk[i]["start"], topk[i]["end"]))
    kept: list[int] = []
    for i in order:
        if sp_ids[i] == 0:
            continue
        if all(iou(topk[i]["start"], topk[i]["end"],
                   topk[j]["start"], topk[j]["end"]) < cfg.overlap_thd
               for j in kept):
            kept.append(i)
    kept_set = set(kept)
    spans = [
        {"start": topk[i]["start"], "end": topk[i]["end"],
         "tag_score": topk[i]["score"], "filter_score": topk[i]["fscore"],
         "span_type": rm.SPAN_TYPES[int(sp_ids[i])]}
        for i in sorted(kept_set)
    ]
    rels = []
    for r in range(h_idx.shape[0]):
        h, t = int(h_idx[r]), int(t_idx[r])
        if h not in kept_set or t not in kept_set:
            continue
        for ti, tname in enumerate(rm.REL_TYPES):
            if rl_keep[r, ti]:
                rels.append({
                    "h_start": topk[h]["start"], "h_end": topk[h]["end"],
                    "t_start": topk[t]["start"], "t_end": topk[t]["end"],
                    "rel_score": float(rl_logits[r, ti]), "rel_type": tname})
    return spans, rels


def link_entities(mentions: list[str], cfg: PipelineConfig) -> dict[str, tuple[int, str]]:
    """normalized form -> (canonical_id, canonical_form) via MinHash-LSH
    blocking + connected components (min-label propagation)."""
    forms = sorted({normalize(m) for m in mentions if normalize(m)})
    sh = {f: char_shingles(f, cfg.shingle_size) for f in forms}
    sig = {f: minhash_signature(sh[f], cfg.minhash_hashes) for f in forms}
    from causalre_spark.operators.dedup import band_key_py

    n_bands = cfg.minhash_hashes // cfg.minhash_band_size
    buckets: dict[tuple, list[str]] = defaultdict(list)
    for f in forms:
        for band in range(n_bands):
            lo = band * cfg.minhash_band_size
            # band_key_py = exact twin of the Spark side's BIGINT band
            # key (linking._lsh_edges, also used by link_forms_driver), so
            # a band_size>2 hash collision merges the same buckets in
            # every implementation
            key = (band, band_key_py(sig[f][lo : lo + cfg.minhash_band_size]))
            buckets[key].append(f)
    adj: dict[str, set[str]] = defaultdict(set)
    for members in buckets.values():
        if cfg.lsh_max_bucket and len(members) > cfg.lsh_max_bucket:
            continue  # oversized-bucket skew guard (mirrors linking.py)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if jaccard(sh[a], sh[b]) >= cfg.link_jaccard_thd:
                    adj[a].add(b)
                    adj[b].add(a)
    # connected components: min md5_long label propagation to fixpoint
    label = {f: md5_long(f) for f in forms}
    changed = True
    while changed:
        changed = False
        for f in forms:
            m = min([label[f]] + [label[g] for g in adj[f]])
            if m < label[f]:
                label[f] = m
                changed = True
    by_label: dict[int, list[str]] = defaultdict(list)
    for f in forms:
        by_label[label[f]].append(f)
    out: dict[str, tuple[int, str]] = {}
    for lab, members in by_label.items():
        canon = min(members, key=lambda f: (md5_long(f), f))
        for f in members:
            out[f] = (lab, canon)
    return out


def oracle_pipeline(pages: list[dict], cfg: PipelineConfig = DEFAULT_CONFIG) -> dict:
    """pages (input_hint schema rows) -> {'spans', 'relations', 'triples'}."""
    all_spans, all_rels, mention_texts = [], [], []
    for pg in pages:
        if pg["lang"] != "en":
            continue
        text = extract_text(pg["html"])
        assert text == pg["text"], f"extraction not byte-identical for {pg['url']}"
        tokens = tokenize(text)
        if cfg.model_profile == "reference":
            spans, rels = doc_extract_reference_oracle(tokens, cfg)
        else:
            spans = doc_spans(tokens, cfg)
            rels = doc_relations(tokens, spans, cfg)
        for s in spans:
            s2 = dict(s)
            s2["url"] = pg["url"]
            s2["text"] = " ".join(tokens[s["start"] : s["end"]])
            all_spans.append(s2)
            mention_texts.append(s2["text"])
        span_text = {(s["start"], s["end"]): " ".join(tokens[s["start"] : s["end"]])
                     for s in spans}
        for r in rels:
            r2 = dict(r)
            r2["url"] = pg["url"]
            r2["h_text"] = span_text[(r["h_start"], r["h_end"])]
            r2["t_text"] = span_text[(r["t_start"], r["t_end"])]
            all_rels.append(r2)
    canon = link_entities(mention_texts, cfg)
    triple_map: dict[tuple[int, str, int], dict] = {}
    for r in all_rels:
        hn, tn = normalize(r["h_text"]), normalize(r["t_text"])
        if hn not in canon or tn not in canon:
            continue
        (hid, hform), (tid, tform) = canon[hn], canon[tn]
        if hid == tid:
            continue  # self-loop after canonicalization
        rel_type = r.get("rel_type", "causal")
        predicate = "CAUSES" if rel_type == "causal" else rel_type.upper()
        key = (hid, predicate, tid)
        t = triple_map.setdefault(
            key, {"cause_id": hid, "cause": hform, "predicate": predicate,
                  "effect_id": tid, "effect": tform,
                  "n_evidence": 0, "max_score": float("-inf")})
        t["n_evidence"] += 1
        t["max_score"] = max(t["max_score"], r["rel_score"])
    triples = sorted(triple_map.values(),
                     key=lambda t: (t["cause_id"], t["predicate"], t["effect_id"]))
    return {"spans": all_spans, "relations": all_rels, "triples": triples,
            "canon": canon}
