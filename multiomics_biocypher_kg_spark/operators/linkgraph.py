"""Web link graph: href extraction -> host graph -> PageRank.

Common-Crawl-scale KG pipelines treat the hyperlink structure itself
as a first-class signal: host-level authority (PageRank) feeds crawl
prioritization and document quality scoring, and anchor edges are KG
evidence. (The reference's analog is its ontology edge tables +
closure/levels enrichment — same role: graph-derived features joined
back onto entities; cf. /root/reference/multiomics_kg/adapters/
cyanorak_annotation_adapter.py ontology edge emission.)

Design for 100 TB:

- ``href_edges``: the anchor regexp runs in the parquet scan
  projection (whole-stage codegen, zero Python); the explode is
  narrow (no shuffle). Canonicalization (functions.urls) collapses
  tracking-param/fragment variants BEFORE the first shuffle, so hot
  raw-variant families dedup map-side.
- ``host_graph``: one shuffle keyed by (src_host, dst_host); the
  partial aggregation is map-side combined, and AQE skew-join
  splitting handles hot hosts (tests/test_plans.py pins the skew
  path on this corpus's 30%-hot host).
- ``pagerank``: the per-iteration cost is ONE shuffle join
  (edges x ranks on src) + ONE aggregation (contributions by dst).
  Edge weights are normalized once up front and the normalized edge
  table is the loop invariant — repartition it by ``src`` and cache
  it so every iteration reuses the same co-partitioned build side.
  Scalar terms (node count, dangling mass) stay distributed as
  broadcast 1-row aggregates — no ``.collect()`` in the loop.
  ``checkpoint_every`` truncates plan lineage for deep iteration
  counts (local checkpoint here; on a real cluster use
  ``spark.sparkContext.setCheckpointDir`` + reliable checkpoints, as
  operators.canonicalize.connected_components does once a checkpoint
  dir is set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.functions.urls import canonical_url, url_host

ANCHOR_HREF_RE = r'<a href="([^"]+)"'


def href_edges(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (src_url, dst_url) one row per anchor.

    ``dst_url`` is canonical (tracking params dropped, fragments
    stripped, params sorted) so downstream grouping keys are stable.
    """
    return (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(
                F.regexp_extract_all(
                    F.col("html").cast("string"), F.lit(ANCHOR_HREF_RE), F.lit(1)
                )
            ).alias("href"),
        )
        .select("src_url", canonical_url(F.col("href")).alias("dst_url"))
    )


ANCHOR_PAIR_RE = r'<a href="([^"]+)">([^<]*)</a>'


def anchor_pairs(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (src_url, dst_url, anchor) one row
    per anchor, dst canonicalized.

    Both capture groups are pulled with ``regexp_extract_all`` (two
    passes over the SAME pattern, guaranteed same length/order) and
    re-paired with ``arrays_zip`` — everything stays native Column
    expressions in the scan projection; the explode is narrow.
    """
    h = F.col("html").cast("string")
    hrefs = F.regexp_extract_all(h, F.lit(ANCHOR_PAIR_RE), F.lit(1))
    texts = F.regexp_extract_all(h, F.lit(ANCHOR_PAIR_RE), F.lit(2))
    return (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(F.arrays_zip(hrefs.alias("href"), texts.alias("anchor"))).alias(
                "p"
            ),
        )
        .select(
            "src_url",
            canonical_url(F.col("p.href")).alias("dst_url"),
            F.col("p.anchor").alias("anchor"),
        )
    )


def anchor_text_profile(pairs: DataFrame) -> DataFrame:
    """Anchor-text surface-form mining per link target: how the web
    NAMES a url — the classic external-evidence signal for entity
    surface forms and synonym discovery in web-scale KG construction.

    -> (dst_url, n_links, n_texts, top_anchor, top_anchor_links).
    Two aggregations: (dst, anchor) counts, then per-dst rollup with
    a deterministic mode — min_by over (-count, anchor) so ties break
    lexicographically. Both shuffles are map-side combined; hot
    targets (hub pages) are exactly the skew the salting/AQE recipe
    covers.
    """
    per_text = pairs.groupBy("dst_url", "anchor").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_text.groupBy("dst_url")
        .agg(
            F.sum("n").alias("n_links"),
            F.count(F.lit(1)).alias("n_texts"),
            F.min_by(
                F.struct(F.col("anchor"), F.col("n")),
                F.struct((-F.col("n")).alias("neg"), F.col("anchor").alias("a")),
            ).alias("top"),
        )
        .select(
            "dst_url",
            "n_links",
            "n_texts",
            F.col("top.anchor").alias("top_anchor"),
            F.col("top.n").alias("top_anchor_links"),
        )
    )


def host_graph(edges: DataFrame) -> DataFrame:
    """(src_url, dst_url) -> (src_host, dst_host, n_links, n_pages).

    ``n_links`` counts anchors, ``n_pages`` distinct linking pages —
    both in ONE aggregation pass (count + countDistinct share the
    shuffle under partial aggregation).
    """
    return (
        edges.select(
            url_host(F.col("src_url")).alias("src_host"),
            url_host(F.col("dst_url")).alias("dst_host"),
            "src_url",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("src_url").alias("n_pages"),
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    checkpoint_every: int | None = 1,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, weight)``.

    Fixed-iteration (deterministic — SQL-oracle-able by unrolling),
    with proper dangling-mass redistribution:

        rank' = (1-d)/n + d * (sum_in(p * rank) + dangling/n)

    where ``p`` is the out-weight-normalized edge weight and
    ``dangling`` is the total rank sitting on nodes with no
    out-edges. Self-loops are legal. Output: (node, rank) with
    sum(rank) == 1 every iteration.

    The loop invariants (normalized edges, node set, has-out set)
    are localCheckpoint()ed ONCE, and ranks' lineage is truncated
    every ``checkpoint_every`` iterations: each round references the
    previous ranks three times (dangling, contributions, carry), so
    an untruncated plan re-derives the EDGE PIPELINE O(3^iters)
    times — measured 143 s -> 19 s at sf0.01 when the edges come
    from the full mention cascade. On a real cluster swap localCheckpoint
    for reliable checkpoints (as operators.canonicalize.connected_components
    does once the session has a checkpoint dir).
    """
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    has_out = edges.select("src").distinct().localCheckpoint(eager=False)
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for i in range(iters):
        dangling = (
            ranks.join(has_out, ranks["node"] == has_out["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        )
        contrib = (
            norm.join(ranks, norm["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.col("n")
                    )
                ).alias("rank"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hubs & authorities over ``edges(src, dst)`` — fixed
    iterations, L1-normalized each round (deterministic, so the
    DuckDB oracle unrolls the identical updates as CTEs).

    Update order per round (must match the oracle exactly):
    authority' = sum of hub over in-edges, normalize; THEN
    hub' = sum of the NEW authority over out-edges, normalize.
    Nodes without in/out edges keep exact 0.0 via the left join back
    onto the node set.

    Scale shape mirrors ``pagerank``: the distinct edge list and
    node set are loop invariants (localCheckpoint()ed once), each
    round is two keyed joins + two map-side-combined sums + two
    broadcast 1-row totals, and scores' lineage is truncated per
    round — the O(3^iters) re-derivation trap is the same one.
    Swap localCheckpoint for reliable checkpoints on a cluster.

    -> (node, hub, authority), unrounded (consumers round).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = nodes.select("node", F.lit(1.0).alias("hub"))
    a = nodes.select("node", F.lit(1.0).alias("authority"))
    for i in range(iters):
        raw_a = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("raw"))
        )
        a = nodes.join(raw_a, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        ta = a.agg(F.sum("raw").alias("t"))
        a = (
            a.crossJoin(F.broadcast(ta))
            .select("node", (F.col("raw") / F.col("t")).alias("authority"))
        )
        raw_h = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("raw"))
        )
        h = nodes.join(raw_h, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        th = h.agg(F.sum("raw").alias("t"))
        h = (
            h.crossJoin(F.broadcast(th))
            .select("node", (F.col("raw") / F.col("t")).alias("hub"))
        )
        if i + 1 < iters:
            a = a.localCheckpoint(eager=True)
            h = h.localCheckpoint(eager=True)
    return h.join(a, "node").select("node", "hub", "authority")

def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection over
    ``edges(src, dst)`` — the near-linear community algorithm
    (Raghavan et al. 2007) that web-graph pipelines use to find link
    farms / mirror families because it needs no target cluster count
    and each round is one shuffle join + one keyed count.

    Determinism (SQL-oracle-able by unrolling): SYNCHRONOUS updates
    (every node reads round-``i`` labels only), labels initialized to
    the node's own id, and the per-node argmax tie-broken by MIN
    label — encoded as ``min(struct(-cnt, label))`` so the whole pick
    is a map-side-combinable aggregate, no window. The classic LPA
    oscillation of synchronous updates on bipartite-ish structures is
    bounded by the fixed iteration count (both engines run the exact
    same rounds, so oscillation cannot diverge the oracle).

    Scale shape mirrors ``pagerank``: the symmetrized distinct edge
    list is the loop invariant (localCheckpoint()ed once), each round
    is one join keyed by neighbor + one (node, label) count with
    partial aggregation, and label lineage is truncated per round.

    -> (node, label) after ``iters`` rounds.
    """
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).where(F.col("src") != F.col("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = und.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(iters):
        nbr_labels = und.join(
            labels.select(
                F.col("node").alias("dst"), F.col("label").alias("nbr_label")
            ),
            "dst",
        )
        counts = nbr_labels.groupBy(
            F.col("src").alias("node"), F.col("nbr_label").alias("label")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        # argmax(cnt) tie-broken by min(label): min over (-cnt, label)
        picked = counts.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), "label")).alias("s")
        )
        labels = picked.select("node", F.col("s.label").alias("label"))
        if i + 1 < iters:
            labels = labels.localCheckpoint(eager=True)
    return labels


def kcore(edges: DataFrame, k: int = 2, rounds: int = 4) -> DataFrame:
    """Fixed-round k-core peeling over undirected ``edges(src, dst)``:
    each round drops every node whose current degree is below ``k``
    (and all its incident edges), ``rounds`` times. The k-core is the
    fixpoint; a FIXED round count keeps the computation deterministic
    and oracle-unrollable, and both engines run the identical rounds,
    so a not-yet-converged intermediate state still hash-matches.
    (Web pipelines use the core number as a spam/importance feature:
    link farms have anomalously dense cores.)

    Each round = one degree aggregation + one semi-join edge filter
    (both keyed shuffles with map-side partials); the surviving edge
    set is localCheckpoint()ed per round — it SHRINKS monotonically,
    so truncation also bounds the replay cost on a cluster
    (reliable-checkpoint switch as in ``pagerank``).

    -> (node, degree) of nodes alive after ``rounds`` (degree within
    the surviving subgraph).
    """
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).where(F.col("src") != F.col("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = und.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        alive = deg.where(F.col("degree") >= k).select("node")
        und = (
            und.join(alive.withColumnRenamed("node", "src"), "src", "leftsemi")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "leftsemi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004): PageRank whose teleport mass
    goes ONLY to a trusted seed set, so trust decays with link
    distance from the seeds — the standard web-spam demotion signal
    next to vanilla PageRank. ``seeds`` is a 1-column (node)
    DataFrame; teleport is uniform over seeds:

        rank' = (1-d) * t + d * (sum_in(p * rank) + dangling * t)

    with t = 1/|seeds| on seed nodes, 0 elsewhere (dangling mass is
    also re-injected through t, keeping sum(rank) == 1 exactly).

    Scale shape is ``pagerank``'s: normalized edges / node set /
    teleport vector are loop invariants (localCheckpoint()ed once —
    the seed set is dictionary-sized, so its join is broadcast), each
    round is one keyed join + one map-side-combined sum + one
    broadcast dangling scalar, lineage truncated per round.

    -> (node, rank), unrounded (consumers round).
    """
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_seeds = seeds.agg(F.count(F.lit(1)).cast("double").alias("ns"))
    teleport = (
        nodes.join(
            F.broadcast(seeds.select(F.col("node").alias("seed"))),
            nodes["node"] == F.col("seed"),
            "left",
        )
        .crossJoin(F.broadcast(n_seeds))
        .select(
            "node",
            F.when(F.col("seed").isNotNull(), F.lit(1.0) / F.col("ns"))
            .otherwise(F.lit(0.0))
            .alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    has_out = edges.select("src").distinct().localCheckpoint(eager=False)
    ranks = teleport.select("node", F.col("t").alias("rank"))
    for i in range(iters):
        dangling = (
            ranks.join(has_out, ranks["node"] == has_out["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        )
        contrib = (
            norm.join(ranks, norm["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
        )
        ranks = (
            teleport.crossJoin(F.broadcast(dangling))
            .join(contrib, teleport["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") * F.col("t")
                    )
                ).alias("rank"),
            )
        )
        if i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def deterministic_walks(edges: DataFrame, n_steps: int = 4) -> DataFrame:
    """DeepWalk-style graph->sequence export with derandomized hops:
    one walk per start node, the next hop at step t chosen as the
    neighbor minimizing md5(start|cur|neighbor|t) — the same
    replace-randomness-with-MD5 trick the sampling/sketch family
    uses, so the walk corpus is reproducible AND cross-engine
    verifiable (node2vec/DeepWalk itself feeds these sequences to a
    skip-gram model; the export is the Spark-side part).

    edges(a, b): one row per undirected edge in either or both
    directions. Returns (start_host, walk) with walk the '>'-joined
    node path of length n_steps+1. Walks may backtrack, as in
    DeepWalk.

    Scale contract: each step is ONE equi-join of the frontier
    against the adjacency list keyed by the current node plus a
    map-side-combinable min(struct(hash, neighbor)) argmin per walk
    — n_steps shuffles total, no per-node Python, no collect. State
    is one row per walk. Hash ties cannot reorder hops: the struct
    tiebreak falls back to the neighbor id on both engines only via
    the 60-bit hash, whose collision odds over host-scale
    neighborhoods are negligible (and the id tiebreak in the struct
    makes Spark deterministic regardless).
    """
    from multiomics_biocypher_kg_spark.functions.hashing import md5_long

    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    walks = (
        sym.select(F.col("a").alias("start"))
        .distinct()
        .select(
            "start",
            F.col("start").alias("cur"),
            F.col("start").cast("string").alias("path"),
        )
    )
    for step in range(1, n_steps + 1):
        cand = walks.join(sym, walks["cur"] == sym["a"])
        score = md5_long(
            F.concat_ws("|", "start", "cur", "b", F.lit(str(step)))
        )
        nxt = cand.groupBy("start").agg(
            F.min(F.struct(score.alias("s"), F.col("b").alias("nxt"))).alias("m")
        ).select("start", F.col("m.nxt").alias("nxt"))
        walks = walks.join(nxt, "start").select(
            "start",
            F.col("nxt").alias("cur"),
            F.concat_ws(">", "path", "nxt").alias("path"),
        )
    return walks.select(
        F.col("start").alias("start_host"), F.col("path").alias("walk")
    )


def ppr_batch(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Batched multi-seed personalized PageRank (random walk with
    restart, Tong et al. ICDM 2006): PageRank whose teleport mass
    returns to ONE seed per vector, run for ALL seeds in a single
    loop. ``seeds`` is a 1-column (seed) DataFrame; the recurrence
    per seed s is

        rank'(s, v) = d * sum_in(p * rank(s, u))
                      + [v == s] * ((1-d) + d * dangling(s))

    i.e. restart AND dangling mass both re-enter at the seed, so
    sum_v rank(s, v) == 1 for every seed every iteration. This is
    the "related entities" primitive (what pagerank is to global
    salience, PPR is to per-entity affinity); trustrank is the
    special case of ONE rank vector with teleport smeared over a
    seed SET.

    Scale shape — why batched: running the loop per seed costs
    |seeds| Spark jobs and |seeds| passes over the edge table. Here
    the state is ONE sparse (seed, node, rank) table — only nodes
    the walk has reached carry rows, so after i rounds the state is
    bounded by the seeds' i-hop neighborhoods, not |seeds| x |V| —
    and each round is ONE join of that state against the normalized
    edges on the walk key (node == src) + ONE map-side-combined sum
    by (seed, dst), identical cost whether there are 4 seeds or
    4,000. Per-seed scalars (dangling mass) are a seed-keyed
    aggregate joined back broadcast-sized, never collected. Loop
    invariants (normalized edges, has-out set, seed set) are
    localCheckpoint()ed once and the rank state's lineage is
    truncated per round (the pagerank O(3^iters) lesson; swap for
    reliable checkpoints on a cluster). At web scale the production
    knob is FORA-style epsilon-push truncation of near-zero state
    rows per round; it is left off here so the recurrence stays
    exactly SQL-mirrorable.

    -> (seed, node, rank), sparse, unrounded (consumers round).
    """
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .localCheckpoint(eager=False)
    )
    has_out = edges.select("src").distinct().localCheckpoint(eager=False)
    seed_tbl = seeds.select("seed").localCheckpoint(eager=False)
    ranks = seed_tbl.select(
        "seed", F.col("seed").alias("node"), F.lit(1.0).alias("rank")
    )
    for _ in range(iters):
        dang = (
            ranks.join(has_out, ranks["node"] == has_out["src"], "left_anti")
            .groupBy("seed")
            .agg(F.sum("rank").alias("dang"))
        )
        spread = (
            norm.join(ranks, norm["src"] == ranks["node"])
            .groupBy("seed", "dst")
            .agg((F.lit(damping) * F.sum(F.col("p") * F.col("rank"))).alias("rank"))
            .select("seed", F.col("dst").alias("node"), "rank")
        )
        restart = seed_tbl.join(dang, "seed", "left").select(
            "seed",
            F.col("seed").alias("node"),
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("dang"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = (
            spread.unionByName(restart)
            .groupBy("seed", "node")
            .agg(F.sum("rank").alias("rank"))
            .localCheckpoint(eager=False)
        )
    return ranks


def multi_source_distances(
    edges: DataFrame, sources: DataFrame, rounds: int
) -> DataFrame:
    """Batched multi-source BFS: hop distances from EVERY source at
    once over ``edges(src, dst)``, fixed ``rounds`` horizon.

    State is one sparse (s, node, dist) table — the per-source twin
    of ``web_seed_distance``'s single distance-to-seed-SET vector,
    and the integer analog of ``ppr_batch``'s mass state: each round
    is one frontier equi-join (state.node == edges.src) + one
    all-integer min-groupBy for ALL sources, so the per-round cost
    is independent of |sources|. Pairs beyond the horizon never get
    a row (sparse by construction); lineage is truncated per round.
    Consumers: harmonic/closeness centrality (sum of reciprocal
    distances per node), seed-set distance (min over s).

    -> (s, node, dist) with dist = exact hop distance <= rounds.
    """
    state = sources.select(
        "s", F.col("s").alias("node"), F.lit(0).alias("dist")
    )
    for _ in range(rounds):
        step = state.join(edges, state["node"] == edges["src"]).select(
            "s", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        state = (
            state.union(step)
            .groupBy("s", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return state


def ktruss(edges: DataFrame, k: int = 8, rounds: int = 2) -> DataFrame:
    """Fixed-round k-truss peeling over undirected ``edges(src,
    dst)``: each round computes every edge's triangle SUPPORT (the
    number of common neighbors of its endpoints) and drops edges
    with support < k-2, ``rounds`` times; the surviving edges are
    returned with their support measured inside the surviving
    subgraph. The k-truss is the triangle-grade strengthening of the
    k-core (``kcore`` peels by degree — a star survives; a truss
    edge must sit in k-2 triangles, so bipartite-ish link-farm spam
    that inflates degree without closing triangles is peeled) —
    together they bracket "dense because popular" vs "dense because
    cohesive". Same determinism trade as the whole iterative family:
    a FIXED round count, oracle-unrollable, identical mid-cascade
    state on both engines.

    Scale shape: support is ONE wedge equi-join per round — the
    canonical edge set joined to the symmetric neighbor table on
    each endpoint with the common neighbor as the join key — i.e.
    the ``kg_triangles`` discipline applied per edge (keyed shuffles
    only, no pair enumeration beyond actual wedges); the edge set
    SHRINKS monotonically and is localCheckpoint()ed per round, so
    round i's plan never re-derives round i-1 (the ``pagerank``
    lineage-truncation argument).

    -> (src, dst, support) for canonical (src < dst) edges alive
    after ``rounds`` peels, support within the surviving subgraph.
    """
    cur = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def support(c: DataFrame) -> DataFrame:
        nbr = c.union(
            c.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = nbr.select(F.col("src").alias("_u"), F.col("dst").alias("_w"))
        b = nbr.select(F.col("src").alias("_v"), F.col("dst").alias("_w"))
        return (
            c.join(a, c["src"] == a["_u"])
            .join(b, (c["dst"] == b["_v"]) & (a["_w"] == b["_w"]))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("support"))
        )

    for _ in range(rounds):
        cur = (
            support(cur)
            .where(F.col("support") >= k - 2)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    final_sup = support(cur)
    return (
        cur.join(final_sup, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
        )
    )


def pagerank_trace(
    edges: DataFrame, iters: int = 5, damping: float = 0.85
) -> DataFrame:
    """Convergence trace of the fixed-iteration ``pagerank`` loop:
    per iteration, the L1 and max |delta| between consecutive rank
    vectors — the AUDIT the fixed-horizon determinism trade owes its
    consumers (every iterative operator here runs a bounded round
    count so both engines stay byte-identical; this query measures
    what that bound leaves on the table: deltas shrinking
    geometrically at rate ~damping say the horizon suffices, a flat
    tail says it does not). Same update rule, same dangling-mass
    redistribution, same checkpoint discipline as ``pagerank`` —
    plus ONE extra keyed join + 1-row agg per iteration for the
    delta (node sets are identical each round, so it is a full inner
    equi-join on the rank state, not a new corpus pass).

    -> (iter, l1_delta, max_delta), ``iters`` rows.
    """
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    has_out = edges.select("src").distinct().localCheckpoint(eager=False)
    ranks = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("n")).alias("rank"))
        .localCheckpoint(eager=True)
    )
    traces = []
    for i in range(1, iters + 1):
        dangling = ranks.join(
            has_out, ranks["node"] == has_out["src"], "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        contrib = (
            norm.join(ranks, norm["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
        )
        new_ranks = (
            nodes.crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.col("n")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        prev = ranks.select(F.col("node"), F.col("rank").alias("prev"))
        traces.append(
            new_ranks.join(prev, "node").agg(
                F.lit(i).alias("iter"),
                F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("l1"),
                F.max(F.abs(F.col("rank") - F.col("prev"))).alias("mx"),
            )
        )
        ranks = new_ranks
    out = traces[0]
    for t in traces[1:]:
        out = out.union(t)
    return out


def boruvka_mst(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Minimum spanning forest via Boruvka's algorithm —
    ``edges(a, b, key)`` undirected (one row per unordered pair)
    with ``key`` a TOTALLY-ORDERED edge key unique per edge (ties in
    raw weight must be broken inside the key, e.g.
    ``'<w>|<a>|<b>'``); returns the forest's edge rows (a, b, key).

    Uniqueness of the key makes the MSF unique, which is what lets a
    DuckDB oracle verify the output through the cut property (an
    edge is in the MSF iff it is the minimax-bottleneck edge between
    its endpoints — see web_mst_backbone's closure oracle) without
    replaying the algorithm.

    The distributed shape (each round):
      1. re-key both endpoints to current component labels (two
         keyed joins against the label table),
      2. per component, pick the minimum out-edge — a window
         PARTITIONED by component (never a global sort),
      3. contract: connected components over the selected
         component-graph edges (pointer-jump CC — the shared
         canonicalize operator), relabel.
    Components at least halve per round, so ceil(log2(V)) rounds
    suffice; every loop invariant is localCheckpoint()ed (the
    O(2^round) lineage-blowup discipline of the iterative family).
    The early-exit probe is one limit(1) count on the (tiny)
    selected-edge table.
    """
    from pyspark.sql import Window

    from multiomics_biocypher_kg_spark.operators.canonicalize import (
        connected_components,
    )

    e = edges.select("a", "b", "key").localCheckpoint()
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select("b"))
        .distinct()
    )
    labels = nodes.select(
        "node", F.col("node").alias("comp")
    ).localCheckpoint()
    forest = e.where(F.lit(False)).localCheckpoint()  # empty, same schema
    for _ in range(rounds):
        ce = (
            e.join(
                labels.select(F.col("node").alias("a"), F.col("comp").alias("ca")),
                "a",
            )
            .join(
                labels.select(F.col("node").alias("b"), F.col("comp").alias("cb")),
                "b",
            )
            .where(F.col("ca") != F.col("cb"))
        )
        inc = ce.select(
            F.col("ca").alias("comp"), "key", "a", "b", F.col("cb").alias("other")
        ).unionByName(
            ce.select(
                F.col("cb").alias("comp"), "key", "a", "b", F.col("ca").alias("other")
            )
        )
        sel = (
            inc.withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("comp").orderBy("key")),
            )
            .where(F.col("rn") == 1)
            .localCheckpoint()
        )
        if sel.limit(1).count() == 0:
            break
        forest = (
            forest.unionByName(sel.select("a", "b", "key").distinct())
            .distinct()
            .localCheckpoint()
        )
        mapping = connected_components(
            sel.select(F.col("comp").alias("src"), F.col("other").alias("dst")),
            src="src",
            dst="dst",
        )
        labels = (
            labels.join(
                mapping.select(
                    F.col("node").alias("comp"), F.col("component").alias("newc")
                ),
                "comp",
                "left",
            )
            .select("node", F.coalesce("newc", "comp").alias("comp"))
            .localCheckpoint()
        )
    return forest
