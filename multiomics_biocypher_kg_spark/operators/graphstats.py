"""KG graph statistics: co-mention pairs, temporal triple validity,
PMI edge weighting, degree-oriented triangle counting, and predicate
functionality profiles.

These are the curation-side diagnostics a web-scale KG build runs over
its own emitted edge tables — the reference's analog is its QC
rollups and ontology enrichment passes (entity rollups, annotation
quality buckets; cf. /root/reference/multiomics_kg/adapters/
cyanorak_annotation_adapter.py QC counters), re-expressed over the
co-mention / triple tables the web pipeline materializes.

Design for 100 TB:

- ``comention_pairs``: per-doc entity sets come from ONE groupBy
  (collect_set); pairs explode narrowly from the sorted array (no
  per-doc self-join shuffle). Hot entities skew the downstream pair
  key — the kg_host_rollup_salted recipe applies to any agg over it.
- ``temporal_edges``: timestamps ride the same two-shuffle shape as
  the co-mention delta; min/max are map-side-combined partials, so
  the snapshot history adds no extra pass over the corpus.
- ``pmi_edges``: three aggregations (pair, entity, corpus) sharing
  the pair scan; corpus totals stay distributed as broadcast 1-row
  aggregates (no ``.collect()``), entity marginals join back onto
  pairs keyed by entity id.
- ``triangle_counts``: DEGREE-ORIENTED wedge join — each undirected
  edge is directed from its lower-(degree, id) endpoint, so every
  wedge is enumerated at its lowest-degree apex and the join fan-out
  is bounded by sum(min-degree per edge) instead of sum(deg^2) on hub
  nodes; the triangle SET is orientation-independent, which is what
  lets the DuckDB oracle verify with a plain id-ordered 3-way join.
- ``predicate_profile``: one groupBy over the triple table;
  functionality / inverse-functionality are ratios of partial
  counts, the schema-inference signal KG curation uses to type
  predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_entity_sets(links: DataFrame) -> DataFrame:
    """links(doc_id, entity_id, ...) -> (doc_id, ents sorted array).

    One shuffle; collect_set dedups mention repeats map-side.
    """
    return (
        links.where(F.col("entity_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("entity_id")).alias("ents"))
    )


def comention_fanout_metrics(links: DataFrame, cap: int) -> DataFrame:
    """Guard metric for the quadratic-in-doc-fanout contract: one row
    (n_docs, n_over_cap, max_fanout, pairs_bound_capped,
    pairs_bound_uncapped). ``pairs_bound_*`` are sum(k*(k-1)/2) —
    the exact pair-explosion cost with/without the cap, the number a
    pipeline operator alerts on before launching the explode.
    """
    k = F.size("ents")
    return doc_entity_sets(links).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((k > cap).cast("long")).alias("n_over_cap"),
        F.max(k).alias("max_fanout"),
        F.sum(F.when(k <= cap, (k * (k - 1) / 2).cast("long")).otherwise(0)).alias(
            "pairs_bound_capped"
        ),
        F.sum((k * (k - 1) / 2).cast("long")).alias("pairs_bound_uncapped"),
    )


def comention_pairs(
    links: DataFrame, max_entities_per_doc: int | None = None
) -> DataFrame:
    """Per-doc unordered entity pairs (subj < obj), one row per
    (doc, pair). The explode is narrow — pairs are generated from the
    sorted per-doc array with slice/transform, never a self-join.

    Fanout contract: a doc mentioning k entities emits k*(k-1)/2
    pairs — quadratic in PER-DOC fanout (a viral list page with 10^3
    entities emits ~5x10^5 rows). ``max_entities_per_doc`` DROPS
    docs above the cap before the explode (list/index pages are low
    co-mention signal anyway — the same prune-to-signal discipline
    as the reference's reachability pruning, brite_adapter.py:
    188-248). Default None keeps every doc; pair
    ``comention_fanout_metrics`` with the cap to alert on what a cap
    would drop before committing to one.
    """
    ents = doc_entity_sets(links)
    if max_entities_per_doc is not None:
        ents = ents.where(F.size("ents") <= max_entities_per_doc)
    pairs = ents.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ents"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ents"), i + 2, F.size(F.col("ents"))),
                        lambda y: F.struct(x.alias("subj"), y.alias("obj")),
                    ),
                )
            )
        ).alias("pair"),
    ).select("doc_id", "pair.subj", "pair.obj")
    # Materialize the pair stage ONCE (lazy local checkpoint): the
    # mention/link path upstream is all-broadcast (no exchange), so
    # Spark has no ReusedExchange point and every downstream consumer
    # (delta, temporal, PMI marginals x3, triangles, entity pagerank,
    # disambiguation) would otherwise re-run the whole extract
    # cascade per reference. On a real cluster this is the persisted
    # co-mention stage table of the curation DAG; swap for a reliable
    # checkpoint / MERGE INTO stage write there.
    return pairs.localCheckpoint(eager=False)


def temporal_edges(pairs: DataFrame, pages: DataFrame) -> DataFrame:
    """Triple validity intervals across crawl snapshots.

    pairs(doc_id, subj, obj) x pages(doc_id, warc_ts) ->
    (subj, pred, obj, first_seen_ts, last_seen_ts, n_snapshots).

    Timestamps are emitted as epoch seconds (BIGINT) so the value
    hash is timezone-stable. At 100 TB the join is keyed by doc_id on
    both sides (the pages scan prunes to two columns) and min/max
    partials combine map-side — the temporal rollup costs the same
    two shuffles as the plain co-mention count.
    """
    ts = pages.select("doc_id", F.unix_timestamp("warc_ts").alias("ts_sec"))
    return (
        pairs.join(ts, "doc_id")
        .groupBy("subj", "obj")
        .agg(
            F.min("ts_sec").alias("first_seen_ts"),
            F.max("ts_sec").alias("last_seen_ts"),
            F.countDistinct("doc_id").alias("n_snapshots"),
        )
        .select(
            "subj",
            F.lit("co_mentioned_with").alias("pred"),
            "obj",
            "first_seen_ts",
            "last_seen_ts",
            "n_snapshots",
        )
    )


def pmi_edges(pairs: DataFrame) -> DataFrame:
    """PMI / NPMI weights for co-mention edges — the statistical
    signal that separates systematic associations from hub-entity
    coincidence before an edge is admitted to the KG.

    pmi  = ln(n_ab * N / (n_a * n_b))  over document counts
    npmi = pmi / ln(N / n_ab)          in [-1, 1], 1 = always together

    N (docs with >=1 linked entity) stays a broadcast 1-row
    aggregate; entity marginals join back by entity id (sort-merge at
    scale, broadcast under the threshold — Catalyst's call).
    """
    doc_ent = pairs.select("doc_id", F.col("subj").alias("entity_id")).unionByName(
        pairs.select("doc_id", F.col("obj").alias("entity_id"))
    )
    marg = doc_ent.groupBy("entity_id").agg(
        F.countDistinct("doc_id").alias("n_docs_ent")
    )
    total = pairs.select(
        F.countDistinct("doc_id").alias("n_docs_total")
    )
    pair_counts = pairs.groupBy("subj", "obj").agg(
        F.countDistinct("doc_id").alias("n_docs_pair")
    )
    j = (
        pair_counts.join(
            marg.select(
                F.col("entity_id").alias("subj"),
                F.col("n_docs_ent").alias("n_docs_subj"),
            ),
            "subj",
        )
        .join(
            marg.select(
                F.col("entity_id").alias("obj"),
                F.col("n_docs_ent").alias("n_docs_obj"),
            ),
            "obj",
        )
        .crossJoin(F.broadcast(total))
    )
    pmi = F.log(
        F.col("n_docs_pair")
        * F.col("n_docs_total")
        / (F.col("n_docs_subj") * F.col("n_docs_obj"))
    )
    denom = F.log(F.col("n_docs_total") / F.col("n_docs_pair"))
    npmi = F.when(denom == 0, F.lit(1.0)).otherwise(pmi / denom)
    return j.select(
        "subj",
        "obj",
        "n_docs_pair",
        "n_docs_subj",
        "n_docs_obj",
        F.round(pmi, 6).alias("pmi"),
        F.round(npmi, 6).alias("npmi"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected edge set.

    edges(a, b) with a <> b, one row per undirected edge in either
    or both directions (dedup handled here). Degree orientation: each
    edge is directed low->high by (degree, node), so wedge
    enumeration happens at the lowest-degree apex — the standard
    bound that keeps hub nodes from exploding the join. The closing
    edge lookup is an equi-join against the SAME oriented edge set
    (a triangle's closing pair is oriented consistently because the
    orientation is a total order).
    """
    und = (
        edges.select(F.col("a"), F.col("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg")).withColumnRenamed("a", "node")
    with_deg = (
        sym.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
    )
    # orient: src is the lower endpoint in the (deg, id) total order
    oriented = with_deg.where(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    ).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.col("deg_b").alias("deg_dst"),
    )
    # wedges at the apex: two out-edges of the same src, ordered by the
    # same total order so the closing edge has a unique orientation
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("deg_dst").alias("deg_v"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("deg_dst").alias("deg_w"))
    wedges = e1.join(e2, "src").where(
        (F.col("deg_v") < F.col("deg_w"))
        | ((F.col("deg_v") == F.col("deg_w")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select(
        F.col("src").alias("n1"), F.col("v").alias("n2"), F.col("w").alias("n3")
    )
    per_node = (
        tris.select(F.explode(F.array("n1", "n2", "n3")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    # left-join back onto the node set so 0-triangle nodes appear
    nodes = sym.select(F.col("a").alias("entity_id")).distinct()
    return nodes.join(per_node, "entity_id", "left").select(
        "entity_id",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate functionality profile over (subj, pred, obj) —
    the schema-inference diagnostic: functionality ~ 1 means the
    predicate behaves like a key (one object per subject), inverse
    functionality ~ 1 means objects identify subjects. One groupBy.
    """
    return (
        triples.groupBy("pred")
        .agg(
            F.count("*").alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("obj").alias("n_objects"),
        )
        .select(
            "pred",
            "n_triples",
            "n_subjects",
            "n_objects",
            F.round(F.col("n_subjects") / F.col("n_triples"), 6).alias(
                "functionality"
            ),
            F.round(F.col("n_objects") / F.col("n_triples"), 6).alias(
                "inverse_functionality"
            ),
        )
    )


def adamic_adar_topk(
    edges: DataFrame, k: int = 100, max_degree: int | None = None
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected edge set — the
    common-neighbor score KG completion uses to propose same-as /
    related-to candidate edges that the corpus never asserts
    directly: score(a,b) = sum over shared neighbors z of
    1/ln(deg(z)), so low-degree (informative) shared neighbors count
    more than hubs.

    edges(a, b), a < b, distinct. Returns the top-``k`` NON-adjacent
    pairs: (subj, obj, n_common, adamic_adar, rank).

    Scale contract: candidates come ONLY from the wedge equi-join
    through the shared neighbor (never nodes x nodes); deg(z) >= 2
    for any shared neighbor so ln(deg) never divides by zero. Wedge
    fan-out is quadratic in deg(z) — the same hub exposure as
    triangle counting, but here hub wedges cannot be skipped (they
    carry real score mass); ``max_degree`` optionally DROPS
    apexes above the cap (a documented approximation: hubs
    contribute at most wedges/ln(cap) each — standard practice since
    1/ln(deg) already damps them). The global top-k goes through
    orderBy().limit() (TakeOrderedAndProject), never a single-task
    sort of the full candidate set; the rank column is a window over
    the k survivors only.
    """
    und = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("z")).agg(F.count("*").alias("d"))
    apex = und.select(F.col("a").alias("z"), F.col("b").alias("n")).join(deg, "z")
    if max_degree is not None:
        apex = apex.where(F.col("d") <= max_degree)
    w1 = apex.select("z", "d", F.col("n").alias("a"))
    w2 = apex.select(F.col("z").alias("z2"), F.col("n").alias("b"))
    wedges = w1.join(w2, w1["z"] == w2["z2"]).where(F.col("a") < F.col("b"))
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").alias("n_common"),
        F.sum(F.lit(1.0) / F.log("d")).alias("aa_raw"),
    )
    cand = scored.join(edges.select("a", "b"), ["a", "b"], "left_anti")
    # Order by the ROUNDED score: AA scores are sums of identical
    # 1/ln(d) terms, so 6dp-ties are exact ties in real arithmetic
    # and the unrounded float carries engine-specific summation-order
    # ulp noise that would shuffle the tie blocks cross-engine (the
    # opposite regime from tf-idf, where scores genuinely differ and
    # the unrounded value is the stable key).
    aa6 = F.round("aa_raw", 6)
    top = cand.orderBy(aa6.desc(), "a", "b").limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(aa6.desc(), "a", "b")
    return top.select(
        F.col("a").alias("subj"),
        F.col("b").alias("obj"),
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round("aa_raw", 6).alias("adamic_adar"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# ── SimRank (structural similarity) ─────────────────────────────────


def simrank(
    edges: DataFrame, iters: int = 2, c: float = 0.8
) -> DataFrame:
    """SimRank (Jeh & Widom, KDD'02) over a directed graph:
    s(a,b) = c / (|I(a)||I(b)|) * sum over in-neighbor pairs of
    s(ia, ib), s(a,a) = 1, with s_0 = identity.

    The pair-state is materialized SPARSELY: iteration k only
    carries pairs whose in-neighborhoods connect to a nonzero
    s_{k-1} pair, so the state size tracks the realized similarity
    structure, not |V|^2. SimRank is inherently pairwise — at
    10^12-doc scale it runs over the HOST graph (|hosts| ~ 10^7,
    in-neighborhoods bounded), never the page graph; the page-level
    analog is the MinHash family. Each iteration is two keyed joins
    (edges x edges x prior state) + one groupBy — lineage stays
    flat because the loop is fixed-depth and unrolled.

    Input: (src, dst). Output: (node_a, node_b, sim) for a < b with
    sim > 0, rounded 6dp (diagonal rows are identically 1 and
    omitted).
    """
    # e is joined 2x per iteration (plus the wedge join): truncate
    # upstream lineage once (pagerank loop-invariant discipline).
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))

    # s1 off-diagonal: s0 is the identity, so the double sum reduces
    # to the common-in-neighbor count.
    common = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.src") == F.col("y.src"))
        .where(F.col("x.dst") < F.col("y.dst"))
        .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s = (
        common.join(indeg.select(F.col("dst").alias("a"), F.col("n_in").alias("ia")), "a")
        .join(indeg.select(F.col("dst").alias("b"), F.col("n_in").alias("ib")), "b")
        .select(
            "a",
            "b",
            (F.lit(c) * F.col("n_common") / (F.col("ia") * F.col("ib"))).alias("sim"),
        )
    )
    for _ in range(iters - 1):
        # sum over (i in I(a), j in I(b)) of s_{k-1}(i, j): the prior
        # state is stored for i < j only, so join both orientations.
        prior = s.select("a", "b", "sim").union(
            s.select(F.col("b").alias("a"), F.col("a").alias("b"), "sim")
        )
        contrib = (
            prior.join(e.alias("ea"), F.col("a") == F.col("ea.src"))
            .join(e.alias("eb"), F.col("b") == F.col("eb.src"))
            .where(F.col("ea.dst") < F.col("eb.dst"))
            .groupBy(F.col("ea.dst").alias("a"), F.col("eb.dst").alias("b"))
            .agg(F.sum("sim").alias("contrib"))
        )
        # diagonal prior contributes the common-in-neighbor count
        # (s(i,i) = 1 exactly, never stored).
        s = (
            contrib.join(common, ["a", "b"], "outer")
            .select(
                "a",
                "b",
                (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.coalesce(F.col("n_common"), F.lit(0))).alias(
                    "raw"
                ),
            )
            .join(indeg.select(F.col("dst").alias("a"), F.col("n_in").alias("ia")), "a")
            .join(indeg.select(F.col("dst").alias("b"), F.col("n_in").alias("ib")), "b")
            .select(
                "a",
                "b",
                (F.lit(c) * F.col("raw") / (F.col("ia") * F.col("ib"))).alias("sim"),
            )
        )
    return s.where(F.col("sim") > 0).select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        F.round("sim", 6).alias("sim"),
    )


# ── Exact bounded-h neighborhood function ───────────────────────────


def hop_neighborhoods(edges: DataFrame, max_h: int = 3) -> DataFrame:
    """|N_<=h(v)| for h = 1..max_h: the exact bounded-radius
    neighborhood function via iterated distinct frontier joins —
    reach_h = reach_{h-1} UNION (reach_{h-1} JOIN edges), self
    excluded.

    Exact counting is for BOUNDED graphs (the host graph); at
    10^12-doc scale the page-level answer is probabilistic counting
    (HyperANF — the HLL-sketch discipline text_hll_host_cardinality
    already demonstrates), because reach sets grow toward |V| per
    node. Output: (node, n1, ..., n{max_h}).
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # joined once per radius: truncate upstream lineage (the
        # pagerank loop-invariant discipline); host-graph-sized.
        .localCheckpoint(eager=True)
    )
    reach = e
    counts = reach.groupBy("src").agg(F.count(F.lit(1)).alias("n1"))
    for h in range(2, max_h + 1):
        step = (
            reach.alias("r")
            .join(e.alias("e"), F.col("r.dst") == F.col("e.src"))
            .select(F.col("r.src").alias("src"), F.col("e.dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )
        reach = reach.union(step).distinct()
        counts = counts.join(
            reach.groupBy("src").agg(F.count(F.lit(1)).alias(f"n{h}")),
            "src",
            "outer",
        )
    out = counts.select(
        F.col("src").alias("node"),
        *[F.coalesce(F.col(f"n{h}"), F.lit(0)).alias(f"n{h}") for h in range(1, max_h + 1)],
    )
    return out


# ── HyperANF-style probabilistic neighborhood function ───────────────


def hyperanf_states(
    edges: DataFrame, max_h: int = 3, k_trials: int = 16, modulus: int = 1_000_003
) -> list[DataFrame]:
    """Min-register sketch states for the neighborhood function
    (HyperANF, Boldi-Rosa-Vigna WWW'11, with the same min-of-hash
    registers as text_hll_host_cardinality instead of HLL bytes):
    state_h(v)[r] = min over u in ball(v, h) of hash_r(u), advanced by
    state_h(v) = elementwise-min(state_{h-1}(v), state_{h-1}(w) for
    each out-neighbor w) — ONE keyed join + one min-groupBy per
    radius, state K longs per node, never a reach-set. This is the
    10^12-node path the exact hop_neighborhoods contract points to.

    Returns [state_1, ..., state_max_h], each (node, r, m) — the ball
    INCLUDES the node itself (state_0 is the self-hash)."""
    from multiomics_biocypher_kg_spark.functions.hashing import md5_long

    # loop invariant: every radius joins against e, so an
    # uncheckpointed e re-derives its upstream pipeline (the full
    # corpus scan when edges come from the link graph) once per
    # radius — the same O(iters) re-derivation the pagerank loop
    # truncates. localCheckpoint is host-graph-sized here.
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    regs = F.explode(F.array(*[F.lit(r) for r in range(k_trials)])).alias("r")
    state = nodes.select("node", regs).select(
        "node",
        "r",
        (
            md5_long(
                F.concat(F.col("node"), F.lit("#anf"), F.col("r").cast("string"))
            )
            % modulus
        ).alias("m"),
    )
    out = []
    for _ in range(max_h):
        contrib = e.alias("e").join(
            state.alias("s"), F.col("e.dst") == F.col("s.node")
        ).select(F.col("e.src").alias("node"), F.col("s.r").alias("r"), F.col("s.m").alias("m"))
        state = (
            state.union(contrib).groupBy("node", "r").agg(F.min("m").alias("m"))
        )
        out.append(state)
    return out


def hyperanf_estimates(
    edges: DataFrame, max_h: int = 3, k_trials: int = 16, modulus: int = 1_000_003
) -> DataFrame:
    """(node, h, n_exact, n_est, rel_err): the sketch estimate of the
    ball size |B(v, h)| (self included) next to the exact count — the
    exact side rides along (cheap on the bounded host graph) so the
    estimator error is pinned, exactly the text_hll_host_cardinality
    discipline. Estimator: sum of K independent min-of-n-uniforms ~
    Gamma(K, 1/(n+1)), so (K-1)*modulus/sum - 1 is unbiased for n."""
    # ONE derivation of the (host-graph-sized) edge table feeds both
    # the sketch and the exact side: previously each re-derived
    # ``edges`` from scratch — two full corpus scans when the edges
    # come from the link graph. The re-distinct inside the two
    # consumers now runs over this materialized table (trivial).
    from multiomics_biocypher_kg_spark.plans.tuning import rerooted, state_session

    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    # every exchange below moves graph-state rows (registers,
    # reach-sets, per-radius estimates) bounded by the materialized
    # edge/node count, so the whole assembly runs — eagerly — in a
    # child session holding the data-sized round partitioning
    # (plans.tuning) and the finished (|V| x max_h)-row result is
    # returned materialized, in the caller's session.
    # Lazily returned, the ~30-exchange tail would re-plan at the
    # session's corpus-scale partition count at action time.
    spark = edges.sparkSession
    e = rerooted(e, state_session(spark, e.count()))
    states = hyperanf_states(e, max_h, k_trials, modulus)
    e_ns = e.where(F.col("src") != F.col("dst"))
    exact = hop_neighborhoods(e_ns, max_h=max_h)
    nodes = states[0].select("node").distinct()
    parts = []
    for h, state in enumerate(states, start=1):
        s = state.groupBy("node").agg(F.sum("m").alias("s"))
        est = (
            F.lit(float(k_trials - 1)) * modulus / F.greatest(F.col("s"), F.lit(1))
            - 1
        )
        n_exact = F.coalesce(F.col(f"n{h}"), F.lit(0)) + 1
        parts.append(
            s.join(nodes, "node")
            .join(exact.select("node", f"n{h}"), "node", "left")
            .select(
                "node",
                F.lit(h).cast("int").alias("h"),
                n_exact.cast("long").alias("n_exact"),
                F.round(est, 6).alias("n_est"),
                F.round(F.abs(est - n_exact) / n_exact, 6).alias("rel_err"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return rerooted(out.localCheckpoint(eager=True), spark)


# ── Weisfeiler–Leman structural roles ────────────────────────────────


def wl_roles(edges: DataFrame, iters: int = 2) -> DataFrame:
    """1-WL color refinement over a directed graph: every node's color
    is iteratively re-hashed from (own color, sorted multiset of
    in-neighbor colors, sorted multiset of out-neighbor colors).
    After k rounds, two nodes share a color iff 1-WL cannot
    distinguish their k-hop rooted structure — the classic structural
    ROLE signal (mirror farms and template-generated link structures
    collapse to one role; organic hosts spread out).

    Per round: two keyed joins (in/out neighbor color lookup), two
    collect_list aggregates keyed by node (fan-in bounded by degree —
    the hub-degree cap guards any skew, same discipline as
    comention_fanout_metrics), one hash projection. State is one
    8-hex color per node. Output: (node, role, role_size).
    """
    # e is joined twice per round: truncate upstream lineage once
    # (pagerank loop-invariant discipline); host-graph-sized.
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    colors = nodes.select("node", F.lit("x").alias("color"))
    for _ in range(iters):
        inn = (
            e.join(colors.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.concat_ws(",", F.sort_array(F.collect_list("color"))).alias(
                    "in_sig"
                )
            )
        )
        out = (
            e.join(colors.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.concat_ws(",", F.sort_array(F.collect_list("color"))).alias(
                    "out_sig"
                )
            )
        )
        colors = (
            colors.join(inn, "node", "left")
            .join(out, "node", "left")
            .select(
                "node",
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("color"),
                            F.lit("|i:"),
                            F.coalesce(F.col("in_sig"), F.lit("")),
                            F.lit("|o:"),
                            F.coalesce(F.col("out_sig"), F.lit("")),
                        )
                    ),
                    1,
                    8,
                ).alias("color"),
            )
        )
    from pyspark.sql import Window

    w = Window.partitionBy("color")
    return colors.select(
        "node",
        F.col("color").alias("role"),
        F.count(F.lit(1)).over(w).alias("role_size"),
    )


# ── Dunning G² co-occurrence significance ────────────────────────────

G2_CRIT_1PCT = 6.634897  # chi-squared, 1 dof, alpha = 0.01


def gtest_edges(pairs: DataFrame) -> DataFrame:
    """Dunning (1993) log-likelihood-ratio G² significance for
    co-mention edges — the hypothesis-test complement to pmi_edges:
    PMI scores association STRENGTH but explodes on rare pairs; G²
    scores association EVIDENCE (it grows with support), which is
    what edge admission at web scale actually needs.

    2x2 contingency per pair over the doc universe N (docs
    participating in any pair — the same universe as pmi_edges):
    O11 = docs with both, O12/O21 = one-sided, O22 = the rest;
    G² = 2 * sum O * ln(O/E) with 0-observed cells contributing 0.
    Same shuffle shape as PMI: pair counts + entity marginals +
    one broadcast total.
    """
    doc_ent = pairs.select("doc_id", F.col("subj").alias("entity_id")).unionByName(
        pairs.select("doc_id", F.col("obj").alias("entity_id"))
    )
    marg = doc_ent.groupBy("entity_id").agg(
        F.countDistinct("doc_id").alias("k_ent")
    )
    total = pairs.select(F.countDistinct("doc_id").alias("n"))
    pc = pairs.groupBy("subj", "obj").agg(
        F.countDistinct("doc_id").alias("k11")
    )
    j = (
        pc.join(
            marg.select(F.col("entity_id").alias("subj"), F.col("k_ent").alias("ka")),
            "subj",
        )
        .join(
            marg.select(F.col("entity_id").alias("obj"), F.col("k_ent").alias("kb")),
            "obj",
        )
        .crossJoin(F.broadcast(total))
    )
    o11 = F.col("k11").cast("double")
    o12 = (F.col("ka") - F.col("k11")).cast("double")
    o21 = (F.col("kb") - F.col("k11")).cast("double")
    o22 = (F.col("n") - F.col("ka") - F.col("kb") + F.col("k11")).cast("double")
    n = F.col("n").cast("double")

    def term(o, row, col):
        e = row * col / n
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    ra, rb = o11 + o12, o21 + o22
    ca, cb = o11 + o21, o12 + o22
    g2 = 2.0 * (
        term(o11, ra, ca) + term(o12, ra, cb) + term(o21, rb, ca) + term(o22, rb, cb)
    )
    return j.select(
        "subj",
        "obj",
        F.col("k11").alias("n_docs_pair"),
        F.col("ka").alias("n_docs_subj"),
        F.col("kb").alias("n_docs_obj"),
        F.round(g2, 6).alias("g2"),
        (g2 > G2_CRIT_1PCT).cast("int").alias("significant"),
    )


def validity_intervals(
    pairs: DataFrame, pages: DataFrame, gap_sec: int
) -> DataFrame:
    """Gaps-and-islands coalescing of a triple's observation
    timestamps into MAXIMAL validity intervals.

    ``temporal_edges`` collapses a triple's history to one
    (first_seen, last_seen) span; this operator keeps the full
    assert/retract/re-assert structure a temporal KG needs for
    SCD-style edge maintenance: consecutive observations further
    apart than ``gap_sec`` start a new interval, so a claim that
    disappears from the crawl for a while and returns gets a second
    validity row instead of one misleading mega-span (the reference's
    analog is its versioned re-import discipline — every adapter run
    stamps nodes/edges and supersedes stale assertions, cf.
    /root/reference/multiomics_kg/adapters/omics_adapter.py version
    fields).

    pairs(doc_id, subj, obj) x pages(doc_id, warc_ts) ->
    (subj, pred, obj, interval_seq, valid_from_ts, valid_to_ts,
    n_obs).

    100 TB: every window is partitioned by the (subj, obj) triple
    key — per-key observation lists sort inside their own partition
    (classic gaps-and-islands; no global sort, no driver state). The
    lag-then-running-sum pair shares ONE window spec, so Catalyst
    plans a single sort per partition; the upstream join is keyed by
    doc_id with the pages scan pruned to two columns. Output is all
    BIGINT/STRING — value-hash stable with no float gate.
    """
    from pyspark.sql import Window

    ts = pages.select("doc_id", F.unix_timestamp("warc_ts").alias("ts_sec"))
    obs = (
        pairs.join(ts, "doc_id")
        .select("subj", "obj", "ts_sec")
        .distinct()
    )
    w = Window.partitionBy("subj", "obj").orderBy("ts_sec")
    brk = F.when(
        F.col("ts_sec") - F.lag("ts_sec").over(w) > gap_sec, 1
    ).otherwise(0)
    grp = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        obs.withColumn("grp", grp)
        .groupBy("subj", "obj", "grp")
        .agg(
            F.min("ts_sec").alias("valid_from_ts"),
            F.max("ts_sec").alias("valid_to_ts"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            "subj",
            F.lit("co_mentioned_with").alias("pred"),
            "obj",
            (F.col("grp") + 1).cast("int").alias("interval_seq"),
            "valid_from_ts",
            "valid_to_ts",
            "n_obs",
        )
    )


def node2vec_transitions(
    edges: DataFrame, p: float, q: float, cap: int
) -> DataFrame:
    """node2vec second-order biased transition table (Grover &
    Leskovec KDD 2016) over ``edges(src, dst, w)``: for a walk at
    cur arrived from prev, P(next | prev, cur) ∝ w(cur, next) *
    alpha with alpha = 1/p on the return step, 1 when (prev, next)
    is an edge, 1/q otherwise. Adjacency is capped to each node's
    top-``cap`` out-neighbors by (w DESC, dst) BEFORE the wedge
    join, bounding the table at |V| * cap^2 regardless of hub
    degree; the alpha gate tests edge existence against the FULL
    edge set, so capping limits fan-out, never the topology test.

    -> (prev_node, cur_node, next_node, alpha, prob) with prob
    normalized per (prev_node, cur_node) and round(6)-gated.
    """
    from pyspark.sql import Window

    wcap = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    capped = (
        edges.withColumn("rk", F.row_number().over(wcap))
        .where(F.col("rk") <= cap)
        .drop("rk")
    )
    a = capped.select(
        F.col("src").alias("prev_node"), F.col("dst").alias("cur_node")
    )
    b = capped.select(
        F.col("src").alias("cur_node"), F.col("dst").alias("next_node"), "w"
    )
    wedge = a.join(b, "cur_node")
    e = edges.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
    ).distinct()
    biased = wedge.join(
        e,
        (F.col("prev_node") == F.col("e_src"))
        & (F.col("next_node") == F.col("e_dst")),
        "left",
    ).select(
        "prev_node",
        "cur_node",
        "next_node",
        F.when(F.col("next_node") == F.col("prev_node"), F.lit(1.0 / p))
        .when(F.col("e_src").isNotNull(), F.lit(1.0))
        .otherwise(F.lit(1.0 / q))
        .alias("alpha"),
        "w",
    )
    wn = Window.partitionBy("prev_node", "cur_node")
    return biased.select(
        "prev_node",
        "cur_node",
        "next_node",
        "alpha",
        F.round(
            F.col("w") * F.col("alpha")
            / F.sum(F.col("w") * F.col("alpha")).over(wn),
            6,
        ).alias("prob"),
    )
