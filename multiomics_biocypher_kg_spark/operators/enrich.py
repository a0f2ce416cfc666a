"""Stage 6 — enrich: the post-import analytic program as DataFrame ops.

Re-expresses the reference's 1,376-line post-import Cypher
(/root/reference/scripts/post-import.cypher) — group rollups
(A1-A8), window ranks / percentiles / buckets (W1-W6), bounded
transitive rollups (G5), min-depth levels (G3) — as native Spark
expressions. Each Cypher ORDER BY + collect + UNWIND-with-index
block collapses into one Window expression.

Percentile/bucket semantics are pinned to the reference formulas
(post-import.cypher:737-762): percentile = 100*(n-rank)/(n-1),
single-row partitions get 100.0; buckets at >=90 / >=75 / >=25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def entity_rollups(links: DataFrame, entity_col: str = "entity_id") -> DataFrame:
    """A1/A2/A4 per-entity rollups over resolved links:
    mention_count, doc_count, langs (sorted distinct, pipe-joined)."""
    return (
        links.where(F.col(entity_col).isNotNull())
        .groupBy(F.col(entity_col).alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("mention_count"),
            F.countDistinct("url").alias("doc_count"),
            F.array_join(F.array_sort(F.collect_set("lang")), "|").alias("langs"),
        )
    )


def rank_percentile_bucket(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    tiebreak_col: str,
    rank_name: str = "rank_by_metric",
    descending: bool = True,
) -> DataFrame:
    """W3/W4 pattern (post-import.cypher:737-762): row_number rank,
    arithmetic percentile, threshold buckets."""
    order = (
        [F.col(order_col).desc(), F.col(tiebreak_col).asc()]
        if descending
        else [F.col(order_col).asc(), F.col(tiebreak_col).asc()]
    )
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    wp = Window.partitionBy(*partition_cols)
    out = df.withColumn(rank_name, F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wp)
    )
    pct = F.when(F.col("_n") == 1, F.lit(100.0)).otherwise(
        F.round(
            100.0 * (F.col("_n") - F.col(rank_name)) / (F.col("_n") - 1), 6
        )
    )
    bucket = (
        F.when(pct >= 90, F.lit("top_decile"))
        .when(pct >= 75, F.lit("top_quartile"))
        .when(pct >= 25, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    return (
        out.withColumn("metric_percentile", pct)
        .withColumn("metric_bucket", bucket)
        .drop("_n")
    )


def distribution_stats(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """A6/A7: min/max + exact quartiles (percentileCont semantics —
    exact interpolated percentile, post-import.cypher:339-350)."""
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.round(F.min(v), 6).alias("min_value"),
        F.round(F.max(v), 6).alias("max_value"),
        F.round(F.expr(f"percentile({value_col}, 0.25)"), 6).alias("p25"),
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("p50"),
        F.round(F.expr(f"percentile({value_col}, 0.75)"), 6).alias("p75"),
        F.count(v).alias("n_values"),
    )


def ancestors_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 8,
) -> DataFrame:
    """G2/G5: bounded-depth ancestor closure (node, ancestor, depth)
    (reference trees are <=5 levels; go_utils.py:207-237,
    post-import.cypher:840-911).

    Min-plus SQUARING instead of a one-hop frontier loop: after k
    rounds the closure covers every path of <= 2^k edges, so
    ceil(log2(max_depth)) self-joins reach the bound — 3 rounds and
    ZERO convergence probes for depth 8, vs 7 join+checkpoint+probe
    rounds for the linear frontier. min(depth) over the union keeps
    the shortest-path depth exactly (min-plus semiring squaring).
    Each round re-aggregates, so the checkpoint lands on fresh
    attribute ids (the Spark-4 AQE workaround documented earlier).

    Round exchanges are sized from the MATERIALIZED closure row
    count each round (plans.tuning): closure state is ontology-
    sized, and per-round eager checkpoints make the count a
    cached-block scan. The rounds run in a child session holding that
    count; the closure comes back in the caller's session.
    """
    from multiomics_biocypher_kg_spark.plans.tuning import (
        SHUFFLE_PARTITIONS,
        rerooted,
        scaled_partitions,
        state_session,
    )

    base = (
        edges.select(
            F.col(child).alias("node"),
            F.col(parent).alias("ancestor"),
            F.lit(1).alias("depth"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_state = base.count()
    state = state_session(edges.sparkSession, n_state)
    closure = rerooted(base, state)
    rounds = max(1, (max_depth - 1).bit_length())  # ceil(log2(max_depth))
    for _ in range(rounds):
        step = (
            closure.alias("a")
            .join(closure.alias("b"), F.col("a.ancestor") == F.col("b.node"))
            .where(F.col("a.depth") + F.col("b.depth") <= max_depth)
            .select(
                F.col("a.node").alias("node"),
                F.col("b.ancestor").alias("ancestor"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
        )
        closure = (
            closure.union(step)
            .groupBy("node", "ancestor")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=True)
        )
        new_n = closure.count()
        # fixed-point early exit: squaring only ever ADDS pairs (a
        # pair's min-depth is final the round it first appears), so
        # an unchanged row count IS convergence — skip the remaining
        # log-rounds when the true diameter undershoots max_depth.
        if new_n == n_state:
            break
        n_state = new_n
        state.conf.set(SHUFFLE_PARTITIONS, str(scaled_partitions(state, n_state)))
    return rerooted(closure, edges.sparkSession)


def subtree_rollup(
    closure: DataFrame, facts: DataFrame, node_col: str, value_col: str
) -> DataFrame:
    """G5: per-ancestor distinct-descendant fact rollup
    (BriteCategory member counts, post-import.cypher:840-911).
    Counts each node's own facts too (Cypher ``*0..`` semantics)."""
    self_pairs = (
        closure.select(F.col("node"))
        .union(closure.select(F.col("ancestor")))
        .distinct()
        .select(F.col("node"), F.col("node").alias("ancestor"))
    )
    pairs = closure.select("node", "ancestor").union(self_pairs).distinct()
    joined = pairs.join(facts, pairs.node == facts[node_col])
    return joined.groupBy("ancestor").agg(
        F.countDistinct(value_col).alias("member_count")
    )


def min_levels(edges: DataFrame, roots: DataFrame, max_depth: int = 12) -> DataFrame:
    """G3: min-depth level from root set via BFS with min() agg
    (go_utils.py:255-325). edges(child,parent): parent is nearer root."""
    down = edges.select(
        F.col("parent").alias("src"), F.col("child").alias("dst")
    ).distinct()
    levels = roots.select(F.col(roots.columns[0]).alias("node")).withColumn(
        "level", F.lit(0)
    )
    frontier = levels
    for _ in range(max_depth):
        step = (
            frontier.join(down, frontier.node == down.src)
            .select(F.col("dst").alias("node"), (F.col("level") + 1).alias("level"))
            .join(levels, "node", "left_anti")
            .groupBy("node")
            .agg(F.min("level").alias("level"))
            .localCheckpoint(eager=True)
        )
        if step.isEmpty():
            break
        levels = levels.union(step).localCheckpoint(eager=True)
        frontier = step
    return levels.groupBy("node").agg(F.min("level").alias("level"))


# post-import.cypher:536-556 — direct-id uninformative flags (root GO
# terms, COG S, generic Cyanorak/TIGR roles). DUF/UPF, COG R, BRITE,
# EC numbers intentionally stay UN-flagged (reference's guiding
# principle: flag only terms with no class signal at all).
UNINFORMATIVE_IDS = [
    "go:0008150",
    "go:0003674",
    "go:0005575",
    "cog.category:S",
    "cyanorak.role:R",
    "cyanorak.role:R.1",
    "cyanorak.role:R.2",
    "cyanorak.role:R.4",
    "cyanorak.role:R.5",
    "tigr.role:156",
    "tigr.role:704",
    "tigr.role:856",
    "tigr.role:185",
    "tigr.role:157",
]
# pattern flag for KEGG uncharacterized-protein KOs (:556-559)
KEGG_UNINFORMATIVE_RE = r"^K\d+;\s+uncharacterized protein\b.*"


def flag_uninformative(
    terms: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    extra_ids: list[str] | None = None,
) -> DataFrame:
    """F18 (post-import.cypher:536-559): is_uninformative='true' for
    the curated direct-id list plus the KEGG uncharacterized-protein
    name pattern; 'false' otherwise. Pure per-row expression — the
    id list is a literal IN, no join."""
    ids = UNINFORMATIVE_IDS + list(extra_ids or [])
    flag = F.when(
        F.col(id_col).isin(ids) | F.col(name_col).rlike(KEGG_UNINFORMATIVE_RE),
        F.lit("true"),
    ).otherwise(F.lit("false"))
    return terms.withColumn("is_uninformative", flag)
