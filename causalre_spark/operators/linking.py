"""Entity linking & canonicalization (north_rule addition; SURVEY §2.11).

No reference analogue — the reference emits raw span surface forms
(predictor.py:63-113); at web scale the same real-world entity surfaces
with many variants, so triples must be keyed by canonical entity ids.

Design (all DataFrame algebra, zero Python UDFs):
  1. normalize mention surface (portable SQL twin of functions.text.normalize)
  2. char-k shingles, relationally (transform+sequence+substring, exploded)
  3. MinHash signatures: one groupBy with n_hashes min() aggregates over
     md5-derived portable hash families (functions.hashing)
  4. LSH banding: band keys -> self-equi-join -> candidate pairs
     (hash join on band key; the classic band trick keeps this linear-ish
     instead of the quadratic all-pairs join)
  5. exact Jaccard verification on collected shingle arrays
  6. connected components: driver union-find for small graphs, else
     alternating large-star/small-star contraction (Kiveris et al.) with
     localCheckpoint() lineage cuts — O(log² n) rounds, diameter-free,
     loud failure if cc_max_iters exhausts before the star fixpoint
  7. canonical id = min md5_long(form) in component (deterministic);
     canonical surface = the form carrying that minimum
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from causalre_spark.config import DEFAULT_CONFIG, PipelineConfig
from causalre_spark.functions.hashing import md5_long_sql_spark
from causalre_spark.functions.text import NONEMPTY_FORM_SQL, NORMALIZE_SQL


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


def form_shingles(forms: DataFrame, k: int, key: str = "form") -> DataFrame:
    """(form, shingle) pairs — char k-shingles; short forms shingle to
    themselves (matches functions.text.char_shingles).

    `key` selects the column carried through as the output 'form' id
    (the shingle text is always cut from the 'form' string column):
    link_mentions passes key='fid' so every downstream shuffle joins on
    a fixed-width BIGINT instead of the surface string."""
    return forms.select(
        F.col(key).alias("form"),
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, greatest(1, length(form) - {k} + 1)),"
                f" i -> substring(form, i, {k})))"
            )
        ).alias("shingle"),
    )


def minhash_signatures(shingles: DataFrame, n_hashes: int,
                       base_col: str | None = None) -> DataFrame:
    """form -> h0..h{n-1} minhash signature (one shuffle).

    ONE md5 per shingle row projected as the base, then n_hashes cheap
    Carter-Wegman integer derivations (functions.hashing rationale) —
    the md5-per-row count is the dominant CPU constant of signature
    computation at corpus scale.

    base_col: name of an ALREADY-COMPUTED md5-long column to use as the
    base hash (link_mentions materializes it once on the persisted
    shingle frame and shares it with the jaccard-verify join keys —
    signatures are bit-identical either way)."""
    from causalre_spark.functions.hashing import cw_hash_sql

    if base_col is None:
        based = shingles.withColumn("_bh", F.expr(md5_long_sql_spark("shingle")))
        base_col = "_bh"
    else:
        based = shingles
    aggs = [
        F.min(F.expr(cw_hash_sql(base_col, seed))).alias(f"h{seed}")
        for seed in range(n_hashes)
    ]
    return based.groupBy("form").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, n_hashes: int, band_size: int, dedup: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding -> distinct candidate pairs (form_a < form_b).

    Bands are emitted with one explode projection (not an n_bands-way
    union) so the plan stays a single scan -> explode -> self-join.
    max_bucket drops oversized buckets before the quadratic self-join —
    the skew guard that keeps worst-case corpora (low-entropy text where
    every form minhashes together) from exploding to O(n²) pairs."""
    from causalre_spark.operators.dedup import band_key

    n_bands = n_hashes // band_size
    # one BIGINT band key (dedup.band_key: injective packing at
    # band_size <= 2, md5-long of the concat otherwise) instead of the
    # h-value concat string — the banded table is shuffled three times
    # under the max_bucket guard (sizes, semi-join, self-join), so the
    # key width is paid on every one of them
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            band_key([f"h{b * band_size + j}"
                      for j in range(band_size)]).alias("bkey"),
        )
        for b in range(n_bands)
    ])
    banded = sigs.select("form", F.explode(band_structs).alias("bk")).select(
        "form", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    if max_bucket:
        sizes = banded.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("_n"))
        banded = banded.join(
            sizes.filter(F.col("_n") <= max_bucket).drop("_n"),
            ["band", "bkey"], "left_semi")
    a = banded.select("band", "bkey", F.col("form").alias("form_a"))
    bb = banded.select("band", "bkey", F.col("form").alias("form_b"))
    out = (
        a.join(bb, ["band", "bkey"])
        .filter(F.col("form_a") < F.col("form_b"))
        .select("form_a", "form_b")
    )
    # cross-band duplicates are harmless to downstream verification (it
    # re-distincts) — dedup here only when the caller consumes raw pairs
    return out.distinct() if dedup else out


def verify_jaccard(
    pairs: DataFrame, shingles: DataFrame, thd: float,
    broadcast_max_forms: int = 200_000, n_forms: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """Exact Jaccard via shared-shingle counting; keeps edges >= thd.

    Explode-join formulation (same shape as dedup.jaccard_verify — the
    one the 100-TB plan wants): distinct candidate pairs equi-join the
    (form, shingle) stream on both endpoints, count shared shingles per
    pair, and n_union = n_a + n_b - n_shared. Everything is codegen'd
    hash joins + aggregates over narrow rows. The previous formulation
    (broadcast collect_set arrays + array_intersect/array_union) builds
    two SQLOpenHashSets and does ~|a|+|b| boxed element reads PER PAIR
    in ArrayIntersect.nullSafeEval — interpreted, allocation-heavy, and
    the hottest executor frames in thread dumps of the 2-core scaling
    leg. Zero-overlap pairs drop out of the shared join, which is
    correct for any thd > 0.

    Pass n_forms when already known (kept for API compatibility; the
    count side is a tiny broadcast either way). Frames persisted here
    are appended to `cleanup` (if given) so the caller can unpersist
    them after its terminal action — long sessions (run_sweep) must not
    accumulate cached blocks.

    Physical shape (measured on the 250k-page bench corpus, 8 cores —
    1.07M LSH candidate pairs for 22k true edges, a 50:1 FP ratio):
      * size prefilter FIRST: J(a,b) >= t implies min(|a|,|b|) /
        max(|a|,|b|) >= t, so pairs failing the broadcast shingle-count
        ratio check never reach the explode-join. Exact-safe (never
        drops a true edge); prunes ~15% here, far more on corpora with
        varied form lengths.
      * counts are folded into the pre-join and CARRIED THROUGH the
        groupBy — no post-aggregation join back to the count table.
      * shuffle_hash hints on both shingle joins: Spark's default
        sort-merge join sorts the ~25M-row pair×shingle stream twice;
        the SMJ UnsafeExternalSorter's pointer-array growth was the
        hottest frame in jstack samples of the scaling legs (and on
        this VM each fresh sorter page pays slow first-touch
        population). Build-side here is a shingle-stream partition,
        uniformly keyed, which is exactly when SHJ beats SMJ."""
    assert thd > 0.0, "explode-join verify requires a positive threshold"
    counts = shingles.groupBy("form").agg(F.count(F.lit(1)).alias("n_sh"))
    counts = counts.persist()
    if cleanup is not None:
        cleanup.append(counts)
    # broadcast the count lookup only while the form vocabulary is known
    # to be small; past the cap fall back to shuffled joins (AQE may
    # still pick a broadcast at runtime from actual sizes)
    small = n_forms is not None and n_forms <= broadcast_max_forms
    ca = counts.select(F.col("form").alias("form_a"),
                       F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("form").alias("form_b"),
                       F.col("n_sh").alias("n_b"))
    p = (
        pairs.select("form_a", "form_b").distinct()
        .join(F.broadcast(ca) if small else ca, "form_a")
        .join(F.broadcast(cb) if small else cb, "form_b")
        .filter((F.least("n_a", "n_b") / F.greatest("n_a", "n_b")) >= thd)
    )
    shared = (
        p.join(shingles.select(F.col("form").alias("form_a"), "shingle")
               .hint("shuffle_hash"), "form_a")
        .join(shingles.select(F.col("form").alias("form_b"), "shingle")
              .hint("shuffle_hash"), ["form_b", "shingle"])
        .groupBy("form_a", "form_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.withColumn("jaccard",
                          F.col("n_shared")
                          / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
        .filter(F.col("jaccard") >= thd)
        .select("form_a", "form_b", "jaccard")
    )


def _union_find_components(nodes: list[str], edges: list[tuple[str, str]],
                           label_of) -> list[tuple[str, int]]:
    """Driver-side union-find; component = min label over members."""
    parent: dict[str, str] = {n: n for n in nodes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    best: dict[str, int] = {}
    for n in nodes:
        r = find(n)
        lab = label_of(n)
        if r not in best or lab < best[r]:
            best[r] = lab
    return [(n, best[find(n)]) for n in nodes]


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
    driver_max_nodes: int = 2_000_000, driver_max_edges: int = 5_000_000,
    keyed: bool = False,
) -> DataFrame:
    """Connected components over (form_a, form_b) edges.

    Returns (form, component) where component = min md5_long(form) over
    the component. With `keyed=True` the node column already IS the
    md5-derived BIGINT id (link_mentions' int-keyed chain): labels are
    identical, the id conversion joins are skipped, and the returned
    'form' column is the BIGINT key.

    Adaptive physical strategy (same spirit as Catalyst's broadcast-vs-
    shuffle join selection): a mention graph that fits on the driver is
    solved with one collect + union-find — O(E α(N)) and zero Spark jobs
    per round — while larger graphs take the distributed min-label
    propagation loop. Labels are identical either way.

    Distributed path: large-star/small-star contraction over md5_long
    node ids (see _star_components) — O(log² n) rounds independent of
    component diameter, loud RuntimeError if max_iters exhausts before
    the star fixpoint (never silently-wrong labels). Partition count is
    sized from the node count.
    """
    from causalre_spark.functions.hashing import md5_long

    if n_nodes is None:
        n_nodes = nodes.count()
    spark = nodes.sparkSession
    if n_nodes <= driver_max_nodes:
        # gate on BOTH node and edge counts before taking the driver
        # path: a dense near-dup graph can have edges >> nodes, and an
        # unconditional edge collect would land the whole graph on the
        # driver. A FULL count (no py4j row transfer) rather than a
        # bounded limit+count: the limit's incremental-job strategy only
        # materializes the partitions it touches, so the persisted edge
        # cache could be left partial and the follow-up collect would
        # recompute the jaccard-verify subtree; the full count both
        # measures and completes the cache in one pass. (Counting all
        # edges is work the distributed path would do anyway.)
        edges = edges.persist()
        n_edges_bounded = edges.count()
        if n_edges_bounded <= driver_max_edges:
            edge_rows = edges.select("form_a", "form_b").collect()
            node_list = [r["form"] for r in nodes.select("form").collect()]
            edge_list = [(r["form_a"], r["form_b"]) for r in edge_rows]
            edges.unpersist()
            assigned = _union_find_components(
                node_list, edge_list, (lambda x: x) if keyed else md5_long)
            return spark.createDataFrame(
                assigned,
                f"form {'long' if keyed else 'string'}, component long")
    max_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = max(1, min(max_parts, n_nodes // rows_per_partition + 1))
    # node id space = md5_long(form): star contraction needs a totally
    # ordered id, and min-id == min-hash keeps the canonical-id contract
    fh_expr = (F.col("form") if keyed
               else F.expr(md5_long_sql_spark("form")))
    with_h = (
        nodes.select("form", fh_expr.alias("fh"))
        .repartition(parts, "form")
        .localCheckpoint()
    )
    if keyed:
        edge_ids = edges.select(F.col("form_a").alias("a"),
                                F.col("form_b").alias("b"))
    else:
        edge_ids = (
            edges.select("form_a", "form_b")
            .join(with_h.select(F.col("form").alias("form_a"),
                                F.col("fh").alias("a")), "form_a")
            .join(with_h.select(F.col("form").alias("form_b"),
                                F.col("fh").alias("b")), "form_b")
            .select("a", "b")
        )
    comp = _star_components(edge_ids, max_iters, parts)
    edges.unpersist()
    return (
        with_h.join(comp, with_h["fh"] == comp["node"], "left")
        .select("form", F.coalesce("component", "fh").alias("component"))
    )


def canonical_entities(labels: DataFrame) -> DataFrame:
    """(form, canonical_id, canonical_form): canonical = the form whose
    md5_long equals the component minimum (deterministic; tie-broken by
    form for the astronomically-unlikely 48-bit collision).

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
    Deliberately implemented with union-find rather than the oracle's
    min-label propagation so oracle-vs-driver parity tests compare two
    independent algorithms, not one function with two names."""
    from causalre_spark.functions.hashing import md5_long
    from causalre_spark.functions.text import (char_shingles, jaccard,
                                               minhash_signature)

    forms = sorted(set(forms))
    sh = {f: char_shingles(f, cfg.shingle_size) for f in forms}
    n_bands = cfg.minhash_hashes // cfg.minhash_band_size
    buckets: dict[tuple, list[str]] = {}
    for f in forms:
        sig = minhash_signature(sh[f], cfg.minhash_hashes)
        for band in range(n_bands):
            lo = band * cfg.minhash_band_size
            key = (band, tuple(sig[lo:lo + cfg.minhash_band_size]))
            buckets.setdefault(key, []).append(f)
    edges: list[tuple[str, str]] = []
    for members in buckets.values():
        if cfg.lsh_max_bucket and len(members) > cfg.lsh_max_bucket:
            continue  # same skew guard as lsh_candidate_pairs
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if jaccard(sh[a], sh[b]) >= cfg.link_jaccard_thd:
                    edges.append((a, b))
    labeled = _union_find_components(forms, edges, md5_long)
    by_comp: dict[int, list[str]] = {}
    for f, comp in labeled:
        by_comp.setdefault(comp, []).append(f)
    canon = {comp: min(members, key=lambda f: (md5_long(f), f))
             for comp, members in by_comp.items()}
    return [(f, comp, canon[comp]) for f, comp in labeled]


def link_mentions(
    mentions: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, text_col: str = "text",
    form_map: DataFrame | None = None,
) -> DataFrame:
    """Full linking stage: mentions -> (form, canonical_id, canonical_form).

    forms/shingles are persisted: the distinct over the (much larger)
    mention table must run once, not once per downstream consumer —
    shingles alone is referenced three times (signatures + both sides of
    the jaccard verification). All intermediates are unpersisted before
    return: connected_components' output is materialized (driver
    union-find or localCheckpoint), so nothing downstream re-reads them
    — and long sweep sessions must not accumulate cached blocks.

    form_map: optional pre-built (text -> form) dictionary (the
    mention_form_map projection). The pipeline computes it ONCE and
    shares it here and with canonical_triples — otherwise each stage
    re-runs the raw-mention distinct + normalization, the single most
    expensive relational pass of the tail."""
    if form_map is not None:
        forms = form_map.select("form").distinct().persist()
    else:
        forms = normalized_forms(mentions, text_col).persist()
    n_forms = forms.count()  # single materialization/count, reused below
    if n_forms <= cfg.link_driver_max_forms:
        # adaptive small-vocabulary cutover (see link_forms_driver):
        # collecting |forms| short strings is a few MB; the whole
        # LSH/verify/CC/canonical chain on a vocabulary this size is
        # otherwise ~50 tiny Spark jobs whose per-job scheduling latency
        # (measured ~150-250 ms each on this host) dominates the actual
        # work at any parallelism — the classic small-side cutover.
        form_list = [r["form"] for r in forms.select("form").collect()]
        forms.unpersist()
        spark = mentions.sparkSession
        return spark.createDataFrame(
            link_forms_driver(form_list, cfg),
            "form string, canonical_id long, canonical_form string")
    # Int-keyed chain: every shuffle from here to CC — the signature
    # groupBy, the band self-join, the three jaccard-verify joins, the
    # star contraction — keys on the 60-bit md5-derived fid (the SAME
    # id canonical_entities/CC already use) instead of the surface
    # string. Measured motivation: at 250k pages the verify explode-join
    # alone moved ~26M rows of (form_a, form_b, shingle) string triples
    # through 3 exchanges and took 200 s of the 8-core leg; fixed-width
    # BIGINT keys shrink those rows ~4x and make every sort/compare an
    # integer op. Surface strings re-enter only at the final canonical
    # join over |forms| rows.
    fmap = forms.select(
        "form", F.expr(md5_long_sql_spark("form")).alias("fid")).persist()
    # the md5-long of each shingle is computed ONCE on the persisted
    # frame and shared by (a) the minhash base hash and (b) the
    # jaccard-verify join keys — the verify joins then move only
    # (BIGINT, BIGINT) rows instead of carrying the shingle string
    # (identical edges modulo 64-bit md5 collisions between distinct
    # shingles of one candidate pair, ~2^-64 per pair; the minhash
    # signatures are bit-identical since md5 was already their base)
    sh = form_shingles(fmap, cfg.shingle_size, key="fid").withColumn(
        "_bh", F.expr(md5_long_sql_spark("shingle"))).persist()
    # persisted: the banded plan under the max_bucket guard references the
    # signature aggregation THREE times (bucket sizes + both self-join
    # sides) — without the cache the 8-way minhash groupBy runs 3x
    sigs = minhash_signatures(sh, cfg.minhash_hashes, base_col="_bh").persist()
    cleanup: list[DataFrame] = [forms, fmap, sh, sigs]
    # persisted: the candidate stream feeds jaccard verification, whose
    # output (edges) is itself consumed twice by connected_components
    # (count gate + collect/contract) — without the cache an eviction or
    # re-reference recomputes the banded self-join from scratch
    cands = lsh_candidate_pairs(sigs, cfg.minhash_hashes, cfg.minhash_band_size,
                                dedup=False, max_bucket=cfg.lsh_max_bucket).persist()
    cleanup.append(cands)
    edges = verify_jaccard(
        cands, sh.select("form", F.col("_bh").alias("shingle")),
        cfg.link_jaccard_thd, n_forms=n_forms, cleanup=cleanup)
    labels_fid = connected_components(
        fmap.select(F.col("fid").alias("form")), edges, cfg.cc_max_iters,
        n_nodes=n_forms, keyed=True)
    # materialize the (tiny, |forms|-row) string labels BEFORE releasing
    # the caches: the returned plan must not re-derive forms/fmap after
    # unpersist (the forms distinct is the expensive upstream job)
    labels = (
        labels_fid.withColumnRenamed("form", "fid")
        .join(fmap, "fid")
        .select("form", "component")
        .localCheckpoint()
    )
    for df_ in cleanup:
        df_.unpersist()
    return canonical_entities(labels)
