"""Entity linking & canonicalization (north_rule addition; SURVEY §2.11).

No reference analogue — the reference emits raw span surface forms
(predictor.py:63-113); at web scale the same real-world entity surfaces
with many variants, so triples must be keyed by canonical entity ids.

Design (all DataFrame algebra, zero Python UDFs):
  1. normalize mention surface (portable SQL twin of functions.text.normalize)
  2. per-form projection, no shuffle: md5-long of each distinct char-k
     shingle
  3. LSH banding in the core shared with document dedup
     (dedup.lsh_bucket_pairs): MinHash signature as array_min over
     Carter-Wegman derivations of those hashes (functions.hashing),
     band keys -> ONE exchange on (band, bkey); a window count drops
     singleton and oversized buckets (lsh_max_bucket) before the bucket
     members are collected
  4. exact Jaccard verification inside each bucket over the BIGINT
     shingle-hash arrays, then one distinct over the edge pairs
  5. connected components over the BIGINT fids: a graph within the
     driver caps (DRIVER_MAX_NODES / DRIVER_MAX_EDGES) is collected and
     solved by driver union-find; larger graphs take alternating
     large-star/small-star contraction (Kiveris et al.) with
     localCheckpoint() lineage cuts — O(log² n) rounds, diameter-free,
     loud failure if cc_max_iters exhausts before the star fixpoint
  6. canonical id = min md5_long(form) in component (deterministic);
     canonical surface = the form carrying that minimum. On the driver
     path the pick runs on the driver too (_canonical_rows) and the
     result goes back to Spark as one Arrow-built LocalRelation; past
     the caps it is canonical_entities' aggregate and join
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.functions.hashing import md5_long_sql_spark
from causalre_spark.functions.text import NONEMPTY_FORM_SQL, NORMALIZE_SQL
from causalre_spark.session import driver_frame

# Driver caps of the connected-components step, shared by
# connected_components and link_mentions: a graph within both is
# collected and solved on the driver, a larger one takes star
# contraction. Read at call time, so tests can force the star path.
DRIVER_MAX_NODES = 2_000_000
DRIVER_MAX_EDGES = 5_000_000

ENTITY_SCHEMA = "form string, canonical_id long, canonical_form string"


def normalized_forms(mentions: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct normalized mention forms.

    Distinct-first: dedupe the raw surface strings (cheap hash agg)
    BEFORE the regexp normalization, which is ~100x more expensive per
    row — raw-distinct mentions are orders of magnitude fewer than
    mention instances at any corpus size."""
    return (
        mentions.select(F.col(text_col).alias("_raw"))
        # cheap codegen'd raw-level predicate INSTEAD of filtering the
        # normalized form after the distinct: a post-distinct
        # `filter(form != '')` gets substituted through the projection
        # and pushed below BOTH aggregates by Catalyst, re-evaluating
        # the full normalize per mention INSTANCE (measured: ~10 min of
        # CPU at 500k pages). The raw predicate is equivalent
        # (normalize(x) = '' iff no non-punct char survives) and is
        # exactly what we WANT pushed to the scan.
        .filter(F.expr(NONEMPTY_FORM_SQL.format(x="_raw")))
        .distinct()
        .select(F.expr(NORMALIZE_SQL.format(x="_raw")).alias("form"))
        .distinct()
    )


def mention_form_map(mentions: DataFrame, text_col: str = "text") -> DataFrame:
    """(raw text -> normalized form) dictionary over distinct raw
    mentions — broadcast-join this instead of re-normalizing per
    instance row."""
    return (
        mentions.select(F.col(text_col).alias("text"))
        # same pushdown trap as normalized_forms: filter raw, not form
        .filter(F.expr(NONEMPTY_FORM_SQL.format(x="text")))
        .distinct()
        .withColumn("form", F.expr(NORMALIZE_SQL.format(x="text")))
    )


def _lsh_edges(fmap: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Verified near-duplicate edges (form_a < form_b, BIGINT fids) over
    the (form, fid) vocabulary, in exactly two shuffle exchanges.

    The per-form projection is the md5-long of each distinct char-k
    shingle (`hs`, the same base hash functions.text.minhash_signature
    uses); dedup.lsh_bucket_pairs, the core shared with document dedup,
    bands it in ONE (band, bkey) exchange with the lsh_max_bucket cap
    applied before anything is collected, and emits the in-bucket
    candidate pairs with their shingle counts. The exact Jaccard check
    follows, and the second exchange is the distinct() over the edge
    pairs (a pair can share several buckets)."""
    from causalre_spark.operators.dedup import lsh_bucket_pairs

    k, thd = cfg.shingle_size, cfg.link_jaccard_thd
    shingles = (f"array_distinct(transform(sequence(1, greatest(1, length(form) - {k} + 1)),"
                f" i -> substring(form, i, {k})))")
    sets = fmap.select(
        F.col("fid").alias("id"),
        F.expr(f"transform({shingles}, s -> {md5_long_sql_spark('s')})").alias("hs"))
    pairs = lsh_bucket_pairs(sets, cfg.minhash_hashes, cfg.minhash_band_size,
                             cfg.lsh_max_bucket, thd)
    n_shared = F.col("n_shared")
    return (
        pairs.filter(n_shared / (F.col("n_a") + F.col("n_b") - n_shared) >= thd)
        .select(F.col("id_a").alias("form_a"), F.col("id_b").alias("form_b"))
        .distinct()
    )


def _union_find_components(nodes: list, edges: list[tuple],
                           label_of) -> list[tuple]:
    """Driver-side union-find; component = min label over members."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    best: dict = {}
    for n in nodes:
        r = find(n)
        lab = label_of(n)
        if r not in best or lab < best[r]:
            best[r] = lab
    return [(n, best[find(n)]) for n in nodes]


def _canonical_rows(form_fids: list[tuple[str, int]],
                    edges: list[tuple[int, int]]) -> list[tuple[str, int, str]]:
    """Driver linking tail shared by link_forms_driver and link_mentions:
    union-find over the fid edges, component = min fid, canonical form =
    min (fid, form) over the component — the labels canonical_entities
    gives the star path. Rows come back in form_fids order."""
    comp = dict(_union_find_components(
        [fid for _, fid in form_fids], edges, lambda x: x))
    canon: dict[int, tuple[int, str]] = {}
    for form, fid in form_fids:
        c = comp[fid]
        if c not in canon or (fid, form) < canon[c]:
            canon[c] = (fid, form)
    return [(form, comp[fid], canon[comp[fid]][1]) for form, fid in form_fids]


def _collect_edges(edges: DataFrame, cap: int) -> list[tuple[int, int]] | None:
    """The (form_a, form_b) edges as driver tuples, or None when there are
    more than `cap`. One bounded limit(cap + 1).collect(): a graph over
    the cap never lands on the driver whole, and one under it is fetched
    by the same job that measures it."""
    rows = edges.select("form_a", "form_b").limit(cap + 1).collect()
    return None if len(rows) > cap else [(r[0], r[1]) for r in rows]


def _star_components(edges: DataFrame, max_iters: int, parts: int) -> DataFrame:
    """Distributed CC core: alternating large-star / small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"; SURVEY §2.11) over (a, b) BIGINT node-id edges.

    Each round: large-star attaches every strictly-larger neighbor of u
    to min(Γ⁺(u)); small-star attaches u and its ≤-neighbors to their
    min. Converges to star graphs (leaf -> component min) in O(log² n)
    rounds — diameter-independent, unlike plain min-label propagation
    (a path graph needs O(diameter) propagation rounds but only ~log
    star rounds). Every step eagerly localCheckpoints: the edge set is
    redefined each round and a lazy chain would re-derive the whole
    history. FAILS LOUDLY (RuntimeError) if max_iters exhausts before
    the edge set reaches the star fixpoint — silently-wrong components
    would merge/split entities downstream with no signal.

    Returns (node, component) for every node incident to an edge
    (isolated nodes are the caller's own-label default)."""

    def _fingerprint(df: DataFrame):
        # one cheap aggregate per round instead of two exceptAll
        # shuffles:
        # count + order-independent bit_xor digests of the edge set.
        # XOR cannot overflow (ANSI-safe) and is duplicate-safe here
        # because both operands are distinct()ed sets. A (vanishingly
        # unlikely) digest collision only makes the loop attempt the
        # EXACT exceptAll verification below — never a wrong result.
        return tuple(df.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(a, b))"),
            F.expr("bit_xor(a)"), F.expr("bit_xor(b)")).collect()[0])

    E = (edges.filter(F.col("a") != F.col("b")).select("a", "b").distinct()
         .repartition(parts, "a").localCheckpoint())
    fp_e = _fingerprint(E)
    converged = fp_e[0] == 0
    for _ in range(max_iters):
        if converged:
            break
        sym = E.unionByName(
            E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
        mins = mins.select("a", F.least("mb", F.col("a")).alias("m"))
        big = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b")).distinct()
            .repartition(parts, "a").localCheckpoint()
        )
        sym_b = big.unionByName(
            big.select(F.col("b").alias("a"), F.col("a").alias("b")))
        small = sym_b.filter(F.col("b") <= F.col("a"))
        mins_s = small.groupBy("a").agg(F.min("b").alias("m"))
        new_e = (
            small.join(mins_s, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(mins_s.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b")).distinct()
            .repartition(parts, "a").localCheckpoint()
        )
        fp_new = _fingerprint(new_e)
        if fp_new == fp_e:
            # candidate fixpoint: confirm with the exact (expensive)
            # symmetric difference ONCE, not every round — convergence
            # stays exact, the guard stays loud
            converged = new_e.exceptAll(E).unionByName(
                E.exceptAll(new_e)).isEmpty()
        E, fp_e = new_e, fp_new
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iters} "
            "large-star/small-star rounds; raise max_iters — returning "
            "partial labels would silently merge/split entities")
    return (
        E.unionByName(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .groupBy("a").agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("node"),
                F.least("mb", F.col("a")).alias("component"))
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 20,
    rows_per_partition: int = 10_000, n_nodes: int | None = None,
    driver_max_nodes: int | None = None, driver_max_edges: int | None = None,
) -> DataFrame:
    """Connected components over (form_a, form_b) edges of BIGINT node
    ids.

    Returns (form, component) where component = min node id over the
    component. link_mentions, the only caller, keys nodes by an id whose
    order is the canonical one: its star path passes md5_long(form), so
    the component is the min md5_long over the component.

    Adaptive physical strategy (same spirit as Catalyst's broadcast-vs-
    shuffle join selection): a graph within the driver caps
    (driver_max_nodes / driver_max_edges, default DRIVER_MAX_NODES /
    DRIVER_MAX_EDGES) is collected — the edges through one bounded
    limit(cap + 1).collect() — and solved by union-find, O(E α(N)) with
    zero Spark jobs per round; the labels return as one Arrow-built
    LocalRelation. Larger graphs take star contraction, recomputing the
    edges from their lazy plan. Labels are identical either way.

    Star path: large-star/small-star contraction over the node ids (see
    _star_components) — O(log² n) rounds independent of component
    diameter, loud RuntimeError if max_iters exhausts before the star
    fixpoint (never silently-wrong labels). Partition count is sized
    from the node count.
    """
    if driver_max_nodes is None:
        driver_max_nodes = DRIVER_MAX_NODES
    if driver_max_edges is None:
        driver_max_edges = DRIVER_MAX_EDGES
    if n_nodes is None:
        n_nodes = nodes.count()
    spark = nodes.sparkSession
    if n_nodes <= driver_max_nodes:
        # gate on BOTH node and edge counts before taking the driver
        # path: a dense near-dup graph can have edges >> nodes
        edge_list = _collect_edges(edges, driver_max_edges)
        if edge_list is not None:
            node_list = [r[0] for r in nodes.select("form").collect()]
            return driver_frame(
                spark, _union_find_components(node_list, edge_list, lambda x: x),
                "form long, component long")
    max_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = max(1, min(max_parts, n_nodes // rows_per_partition + 1))
    ids = nodes.select("form").repartition(parts, "form").localCheckpoint()
    comp = _star_components(
        edges.select(F.col("form_a").alias("a"), F.col("form_b").alias("b")),
        max_iters, parts)
    return (
        ids.join(comp, ids["form"] == comp["node"], "left")
        .select("form", F.coalesce("component", "form").alias("component"))
    )


def canonical_entities(labels: DataFrame) -> DataFrame:
    """(form, canonical_id, canonical_form): canonical = the form whose
    md5_long equals the component minimum (deterministic; tie-broken by
    form for the astronomically-unlikely 48-bit collision). This is the
    star path's pick; within the driver caps link_mentions applies the
    same rule on the driver (_canonical_rows).

    min_by aggregation, not a row_number window: the agg partial-combines
    map-side (each input partition contributes one candidate per
    component before the shuffle) and skips the per-partition sort a
    window requires — at web scale the canonical-pick over 10^9 forms is
    one ordinary hash aggregate. Struct ordering is lexicographic by
    field, matching the old orderBy(fh, form)."""
    canon = labels.groupBy("component").agg(
        F.min_by(
            "form",
            F.struct(F.expr(md5_long_sql_spark("form")).alias("fh"),
                     F.col("form"))).alias("canonical_form"))
    return (
        labels.join(canon, "component")
        .select(
            "form",
            F.col("component").alias("canonical_id"),
            "canonical_form",
        )
    )


def link_forms_driver(forms: list[str], cfg: PipelineConfig = DEFAULT_CONFIG,
                      ) -> list[tuple[str, int, str]]:
    """Single-process linking over an already-normalized form vocabulary:
    char-shingles -> minhash -> LSH bands (with the same oversized-bucket
    skew guard) -> exact-jaccard verify -> union-find CC -> canonical
    pick (min md5_long, tie-broken by form).

    This is the small-graph physical strategy behind link_mentions'
    adaptive cutover (cfg.link_driver_max_forms) — the same pattern as
    connected_components' driver union-find: a vocabulary that fits on
    the driver links in O(E α(N)) with zero Spark jobs per step, and the
    labels are defined to be identical to the distributed path's
    (component id = min md5_long(form); canonical form = its carrier).
    Its union-find and canonical pick are the driver tail link_mentions
    also runs (_canonical_rows); the LSH and verify steps are its own.
    Deliberately implemented with union-find rather than the oracle's
    min-label propagation so oracle-vs-driver parity tests compare two
    independent algorithms, not one function with two names."""
    from causalre_spark.functions.hashing import md5_long
    from causalre_spark.functions.text import (char_shingles, jaccard,
                                               minhash_signature)
    from causalre_spark.operators.dedup import band_key_py

    forms = sorted(set(forms))
    sh = {f: char_shingles(f, cfg.shingle_size) for f in forms}
    n_bands = cfg.minhash_hashes // cfg.minhash_band_size
    buckets: dict[tuple, list[str]] = {}
    for f in forms:
        sig = minhash_signature(sh[f], cfg.minhash_hashes)
        for band in range(n_bands):
            lo = band * cfg.minhash_band_size
            # the distributed path's BIGINT band key, so a band_size > 2
            # key collision merges the same buckets in every linker
            key = (band, band_key_py(sig[lo:lo + cfg.minhash_band_size]))
            buckets.setdefault(key, []).append(f)
    fid = {f: md5_long(f) for f in forms}
    edges: list[tuple[int, int]] = []
    for members in buckets.values():
        if cfg.lsh_max_bucket and len(members) > cfg.lsh_max_bucket:
            continue  # same skew guard as _lsh_edges
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if jaccard(sh[a], sh[b]) >= cfg.link_jaccard_thd:
                    edges.append((fid[a], fid[b]))
    return _canonical_rows([(f, fid[f]) for f in forms], edges)


def link_mentions(
    mentions: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, text_col: str = "text",
    form_map: DataFrame | None = None,
) -> DataFrame:
    """Full linking stage: mentions -> (form, canonical_id, canonical_form).

    A vocabulary within cfg.link_driver_max_forms links wholly on the
    driver (link_forms_driver). Otherwise the LSH edges are built in
    Spark (_lsh_edges) over the persisted (form, fid) projection `fmap`,
    and the rest depends on the graph's size:

    - within DRIVER_MAX_NODES forms and DRIVER_MAX_EDGES edges, the
      edges come back through one bounded limit(cap + 1).collect() and
      fmap through one collect; union-find and the canonical pick run
      on the driver (_canonical_rows, shared with link_forms_driver),
      and the result is one Arrow-built LocalRelation;
    - past either cap, star contraction (connected_components with the
      driver path off) labels the fids and canonical_entities picks the
      canonical forms. That path recomputes the edges from the
      persisted fmap; the labels are localCheckpointed before the
      caches go.

    forms and fmap are the only persisted intermediates (the distinct
    over the much larger mention table must run once) and both are
    unpersisted before return — nothing downstream re-reads them, and
    long sweep sessions must not accumulate cached blocks.

    form_map: optional pre-built (text -> form) dictionary (the
    mention_form_map projection). The pipeline computes it ONCE and
    shares it here and with canonical_triples — otherwise each stage
    re-runs the raw-mention distinct + normalization, the single most
    expensive relational pass of the tail."""
    spark = mentions.sparkSession
    if form_map is not None:
        forms = form_map.select("form").distinct().persist()
    else:
        forms = normalized_forms(mentions, text_col).persist()
    n_forms = forms.count()  # single materialization/count, reused below
    if n_forms <= cfg.link_driver_max_forms:
        # adaptive small-vocabulary cutover (see link_forms_driver):
        # collecting |forms| short strings is a few MB; the whole
        # LSH/verify/CC/canonical chain on a vocabulary this size is
        # otherwise ~20 tiny Spark jobs whose per-job scheduling latency
        # (measured ~150-250 ms each on this host) dominates the actual
        # work at any parallelism — the classic small-side cutover.
        form_list = [r["form"] for r in forms.select("form").collect()]
        forms.unpersist()
        return driver_frame(spark, link_forms_driver(form_list, cfg), ENTITY_SCHEMA)
    # Int-keyed chain: the bucket exchange, the edge distinct and the
    # star contraction key on the 48-bit md5-derived fid (the SAME id
    # canonical_entities/CC already use) instead of the surface string;
    # surface strings re-enter only at the canonical pick over |forms|
    # rows.
    fmap = forms.select(
        "form", F.expr(md5_long_sql_spark("form")).alias("fid")).persist()
    edges = _lsh_edges(fmap, cfg)
    edge_list = (_collect_edges(edges, DRIVER_MAX_EDGES)
                 if n_forms <= DRIVER_MAX_NODES else None)
    if edge_list is not None:
        form_fids = [(r[0], r[1]) for r in fmap.collect()]
        forms.unpersist()
        fmap.unpersist()
        return driver_frame(spark, _canonical_rows(form_fids, edge_list),
                            ENTITY_SCHEMA)
    labels_fid = connected_components(
        fmap.select(F.col("fid").alias("form")), edges, cfg.cc_max_iters,
        n_nodes=n_forms, driver_max_nodes=0)
    # materialize the (|forms|-row) string labels BEFORE releasing the
    # caches: the returned plan must not re-derive forms/fmap after
    # unpersist (the forms distinct is the expensive upstream job)
    labels = (
        labels_fid.withColumnRenamed("form", "fid")
        .join(fmap, "fid")
        .select("form", "component")
        .localCheckpoint()
    )
    forms.unpersist()
    fmap.unpersist()
    return canonical_entities(labels)
