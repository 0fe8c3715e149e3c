"""Property tests (SURVEY §5.2 item 4): algebraic invariants that must
hold for ANY input — idempotence of the greedy/suppression operators,
stability of iterative CC, text-function laws. Pure-Python twins are
exercised through hypothesis; the Spark operators share the same frozen
primitives, so these laws transfer."""

from hypothesis import given, settings
from hypothesis import strategies as st

from causalre_spark.config import DEFAULT_CONFIG
from causalre_spark.functions.text import normalize
from causalre_spark.oracle.pipeline import iou

TEXT = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    """Frozen spec: lowercase, ASCII punctuation -> space, collapse and
    trim SPACES. Control chars / non-ASCII pass through by design (the
    SQL twin does the same), so only space-hygiene is asserted."""
    n = normalize(s)
    assert normalize(n) == n
    assert "  " not in n
    assert not n.startswith(" ") and not n.endswith(" ")
    assert n == n.lower()


SPANS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(1, 10),
              st.floats(-5, 5, allow_nan=False)),
    min_size=0, max_size=25,
).map(lambda xs: [{"start": s, "end": s + w, "filter_score": round(f, 4)}
                  for s, w, f in xs])


def _nms(spans, thd):
    """The oracle's greedy NMS order (oracle/pipeline.py doc_spans)."""
    order = sorted(spans, key=lambda r: (-r["filter_score"],
                                         -(r["end"] - r["start"]),
                                         r["start"], r["end"]))
    kept = []
    for r in order:
        if all(iou(r["start"], r["end"], k["start"], k["end"]) < thd for k in kept):
            kept.append(r)
    return sorted((k["start"], k["end"], k["filter_score"]) for k in kept)


@given(SPANS)
@settings(max_examples=150, deadline=None)
def test_nms_idempotent_and_conflict_free(spans):
    thd = DEFAULT_CONFIG.overlap_thd
    once = _nms(spans, thd)
    again = _nms([{"start": s, "end": e, "filter_score": f} for s, e, f in once], thd)
    assert again == once                          # idempotent
    for i, (s1, e1, _) in enumerate(once):        # no kept pair conflicts
        for s2, e2, _ in once[i + 1:]:
            assert iou(s1, e1, s2, e2) < thd


@given(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=40),
       st.integers(1, 16))
@settings(max_examples=100, deadline=None)
def test_union_find_cc_stable_and_partitioning(edge_list, n_nodes):
    """CC assignment is a fixpoint: adding already-implied edges or
    re-running changes nothing; labels are the component minimum."""
    from causalre_spark.operators.linking import _union_find_components

    nodes = [f"n{i}" for i in range(n_nodes)]
    edges = [(f"n{a % n_nodes}", f"n{b % n_nodes}") for a, b in edge_list]
    lab = dict(_union_find_components(nodes, edges, lambda s: int(s[1:])))
    lab2 = dict(_union_find_components(nodes, edges + edges, lambda s: int(s[1:])))
    assert lab == lab2
    # each label is the min node-id in its component, and labels respect edges
    for a, b in edges:
        assert lab[a] == lab[b]
    for n in nodes:
        assert lab[n] <= int(n[1:])


@given(st.lists(st.tuples(st.integers(0, 20), st.integers(1, 5),
                          st.floats(-3, 3, allow_nan=False)), max_size=30))
@settings(max_examples=100, deadline=None)
def test_dedup_max_idempotent(rows):
    import numpy as np

    from causalre_spark.model.reference_math import dedup_max_score

    if not rows:
        return
    s = np.array([r[0] for r in rows], dtype=np.int64)
    e = np.array([r[0] + r[1] for r in rows], dtype=np.int64)
    sc = np.array([r[2] for r in rows], dtype=np.float32)
    s1, e1, c1 = dedup_max_score(s, e, sc)
    s2, e2, c2 = dedup_max_score(s1, e1, c1)
    assert (s1 == s2).all() and (e1 == e2).all() and (c1 == c2).all()
    # keys unique, and every max really is the max of its duplicates
    keys = list(zip(s1.tolist(), e1.tolist()))
    assert len(keys) == len(set(keys))
    for (ks, ke), kc in zip(keys, c1.tolist()):
        want = max(float(x) for (a, b, x) in zip(s.tolist(), e.tolist(), sc.tolist())
                   if (a, b) == (ks, ke))
        assert abs(kc - want) < 1e-6
