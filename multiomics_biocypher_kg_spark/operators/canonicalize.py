"""Stage 4 — canonicalize: connected components over same-as edges.

Re-expresses GeneIdGraph's fixed-point anchor propagation
(/root/reference/multiomics_kg/download/gene_id_graph.py:92-244,
convergence loop :172-196) as iterative DataFrame min-label
propagation. The reference notes it needs no Union-Find "at these
dataset sizes" (:96-98); at web scale we need the distributed
version:

- undirected edge list, labels initialized to the node id,
- each round every node takes min(own label, neighbor labels) —
  one broadcast-free shuffle per round, keyed by node,
- converges in O(component diameter) rounds; same-as components
  are shallow (reference: fixed point in 2-3 passes), so 5-15
  rounds in practice,
- a checkpoint every round truncates the lineage so the plan
  doesn't grow exponentially (reliable when the session has a
  checkpoint dir, else ``localCheckpoint``),
- skew: min() aggregation does map-side partial aggregation
  (combiners), so a hot node's updates collapse before the shuffle;
  AQE skew-join handles the join side.

Tier-priority anchors: labels can be seeded with a sort key that
makes tier-1 anchors win the min() (prefix '0:' for anchors, '1:'
otherwise) — see ``canonical_mapping``. Components with >=2 distinct
tier-1 anchors are conflicts and quarantined (G1 semantics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.plans.tuning import rerooted, state_session


def _ckpt(spark: SparkSession) -> Callable[[DataFrame], DataFrame]:
    """Lineage truncation per round, decided by the session: with a
    checkpoint dir set (``spark.sparkContext.setCheckpointDir`` to
    durable storage — the 1000-executor setting, where executor loss
    is routine) a reliable checkpoint, else executor-local blocks
    (fast; a lost executor kills the run — fine single-node / retried
    jobs)."""
    if spark.sparkContext.getCheckpointDir() is not None:
        return lambda df: df.checkpoint(eager=True)
    return lambda df: df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    String or numeric ids; component is the minimum id in the
    component under the natural ordering of the id type.

    Each round: min over neighbor labels (one keyed shuffle,
    map-side combined), then a double pointer jump
    (component := component-of-component-of-component), which
    multiplies the effective propagation distance: O(log diameter)
    rounds on chainy graphs instead of O(diameter), at two extra
    self-joins per round. The shallow same-as graphs of the
    reference converge in 1-2 rounds; the jump is what survives a
    web-scale crawl graph with long URL chains.

    Raises RuntimeError if max_iter rounds exhaust without
    convergence — unconverged labels would silently split components.
    """
    spark = edges.sparkSession
    ckpt = _ckpt(spark)
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # materialize the undirected edge list ONCE: every round's
    # neighbor join re-executes ``und`` otherwise — for a cheap scan
    # that is one redundant distinct per round, and when the caller's
    # ``edges`` is itself a pipeline (the dedup-cluster path feeds
    # verified LSH pairs in) the whole upstream DAG would re-run
    # every round. One checkpoint job up front, O(rounds) saved.
    # Its row count is observed on that job: no count job.
    und_rows = Observation()
    und = ckpt(und.observe(und_rows, F.count(F.lit(1)).alias("n")))
    # round-state exchanges sized by the MATERIALIZED edge count
    # (plans.tuning): the label/frontier tables the loop shuffles are
    # bounded by it. The rounds run in a child session that holds that
    # count, so the caller's session, which other driver threads may
    # plan against meanwhile, keeps its own.
    und = rerooted(und, state_session(spark, und_rows.get["n"]))
    # fused init = the first propagation round: label(v) = min(v, N(v))
    # in the same agg that enumerates the nodes — saves one full
    # checkpoint job vs initializing to the identity labeling.
    labels = ckpt(
        und.groupBy(F.col("a").alias("node")).agg(
            F.least(F.min("b"), F.col("a")).alias("component")
        )
    )
    # convergence probe: min-label propagation is monotone (labels only
    # ever decrease), so convergence = no node's label shrank this
    # round. The OLD label rides through the same min() aggregation
    # as a side column (each node contributes exactly one non-null
    # old_comp, from its own-label branch), so the probe is a count
    # observed on the round's checkpoint job — no job of its own,
    # under either checkpoint mode. With the pointer
    # jump, shallow graphs (the same-as case) converge in 1-2 rounds,
    # so probing EVERY round ends the loop at the earliest fixed
    # point.
    comp_type = labels.schema["component"].dataType
    null_old = F.lit(None).cast(comp_type).alias("old_comp")
    changed = None
    for _ in range(max_iter):
        neighbor = (
            und.join(labels, und.b == labels.node)
            .select(und.a.alias("node"), "component", null_old)
        )
        own = labels.select(
            "node", "component", F.col("component").alias("old_comp")
        )
        # pointer jump: component-of-component joins INTO the
        # union feeding the min() agg (same fixed point; keeping
        # the checkpoint directly after the agg also sidesteps a
        # Spark 4 localCheckpoint-of-union attribute-rewrite bug)
        l2 = labels.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        jump = (
            labels.join(l2, labels.component == l2.c_node)
            .select("node", F.col("c_comp").alias("component"), null_old)
        )
        # DOUBLE jump (component^3 per round): one more state-
        # table join triples effective propagation distance, so
        # shallow graphs converge a full round earlier — with the
        # convergence probe that is one fewer join+agg+checkpoint
        # +probe cycle. Interleaved A/B on the sf1.0 same-as
        # graph: 3 rounds / 2.19 s -> 2 rounds / 1.80 s (min-of-3).
        # Same fixed point: jumps only propagate existing labels
        # along component pointers, min() stays monotone.
        l3 = labels.select(
            F.col("node").alias("d_node"), F.col("component").alias("d_comp")
        )
        jump2 = (
            jump.alias("j")
            .join(l3, F.col("j.component") == F.col("d_node"))
            .select(
                F.col("j.node").alias("node"),
                F.col("d_comp").alias("component"),
                null_old,
            )
        )
        new_labels = (
            own.union(neighbor).union(jump).union(jump2)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("old_comp").alias("old_comp"),
            )
        )
        shrank = Observation()
        ck = ckpt(
            new_labels.observe(
                shrank,
                F.count_if(F.col("component") != F.col("old_comp")).alias("n"),
            )
        )
        changed = shrank.get["n"]
        labels = ck.select("node", "component")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter"
        )
    return rerooted(labels, spark)


def canonical_mapping(
    sameas: DataFrame,
    anchors: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """sameas evidence -> (entity_id, canonical_id, is_conflict).

    canonical_id = the component's tier-1 anchor if exactly one
    anchor is present, else the min entity id; components with >=2
    anchors are flagged is_conflict='true' and downstream
    materialization quarantines them (keeps them out of the node
    table, like GeneIdGraph.conflicts).

    ``anchors``: optional DataFrame(entity_id) of tier-1 anchor ids.
    """
    comp = connected_components(sameas, src=id_a, dst=id_b).select(
        F.col("node").alias("entity_id"), "component"
    )
    if anchors is None:
        return comp.select(
            "entity_id",
            F.col("component").alias("canonical_id"),
            F.lit("false").alias("is_conflict"),
        )
    a = anchors.select(F.col(anchors.columns[0]).alias("anchor_id")).distinct()
    comp_anchor = (
        comp.join(F.broadcast(a), comp.entity_id == a.anchor_id, "left")
        .groupBy("component")
        .agg(
            F.countDistinct("anchor_id").alias("n_anchors"),
            F.min("anchor_id").alias("anchor"),
        )
    )
    return (
        comp.join(comp_anchor, "component")
        .select(
            "entity_id",
            F.when(F.col("n_anchors") == 1, F.col("anchor"))
            .otherwise(F.col("component"))
            .alias("canonical_id"),
            F.when(F.col("n_anchors") >= 2, F.lit("true"))
            .otherwise(F.lit("false"))
            .alias("is_conflict"),
        )
    )
