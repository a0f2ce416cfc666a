"""Stage 5 — materialize: typed nodes / edges / (subj,pred,obj) triples.

Mirrors the reference's BioCypher emission + import-time hygiene:

- deterministic edge ids by string composition (F20;
  /root/reference/multiomics_kg/adapters/omics_adapter.py:843) —
  deterministic ids are what make re-runs idempotent / MERGE-able,
- dedup of nodes and edges (skip_duplicate_nodes,
  /root/reference/config/biocypher_config.yaml:13),
- referential integrity: edges whose subj/obj is not a known node
  are dropped via leftsemi joins (skip_bad_relationships, :14).

Sinks: parquet stage tables (the Iceberg tables of the design). The
batch build writes each stage table once (``plans.lineage``); the
incremental ingest is the only sink of ``merge_into``, which, without
Iceberg jars, emulates an insert-only MERGE INTO by appending the keys
the table lacks, preserving the exactly-once resume semantics of the
north rule. The reference's accreting MERGE arms run in one shot as
``accrete_evidence``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def triples_from_links(links: DataFrame, subj_col: str = "url") -> DataFrame:
    """Resolved links -> distinct (subj, pred='mentions', obj) triples.

    The constant ``pred`` column is attached AFTER the distinct so
    the dedup exchange moves two columns, not three (guide §2.3:
    shuffle fewer bytes; a literal adds nothing to the key)."""
    return (
        links.where(F.col("entity_id").isNotNull())
        .select(
            F.col(subj_col).alias("subj"),
            F.col("entity_id").alias("obj"),
        )
        .distinct()
        .select("subj", F.lit("mentions").alias("pred"), "obj")
    )


def sameas_triples(mapping: DataFrame) -> DataFrame:
    """canonical mapping -> (entity, same_as_canonical, canonical) triples,
    excluding self-loops and quarantined conflict components."""
    return (
        mapping.where(
            (F.col("is_conflict") == "false")
            & (F.col("entity_id") != F.col("canonical_id"))
        )
        .select(
            F.col("entity_id").alias("subj"),
            F.lit("same_as_canonical").alias("pred"),
            F.col("canonical_id").alias("obj"),
        )
        .distinct()
    )


def with_edge_id(triples: DataFrame) -> DataFrame:
    """Deterministic edge id (F20): subj|pred|obj composition."""
    return triples.withColumn(
        "edge_id", F.concat_ws("|", F.col("subj"), F.col("pred"), F.col("obj"))
    )


def referential_filter(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Drop edges whose endpoints are not materialized nodes (J12)."""
    ids = nodes.select(F.col("id").alias("_nid")).distinct()
    out = edges.join(ids, edges.subj == ids._nid, "leftsemi")
    return out.join(ids, edges.obj == ids._nid, "leftsemi")


def referential_remap(
    edges: DataFrame,
    nodes: DataFrame,
    aliases: DataFrame,
    target_col: str = "obj",
) -> DataFrame:
    """J11 (tcdb_adapter.py:204-238): referential filter with alias
    remap — an edge whose target is a kept node passes ('kept'); an
    unknown target remaps through the seed-alias map to its nearest
    curated ancestor when THAT anchor is kept ('remapped'); otherwise
    the edge drops ('dropped', retained in the output with a status
    so callers can count, as the reference logs).

    nodes: (id), aliases: (orig, anchor). Both are curated dims —
    broadcast; the edge stream is never shuffled.

    -> edges with ``target_col`` rewritten (null when dropped) +
    ``remap_status``.
    """
    ids = F.broadcast(nodes.select(F.col("id").alias("_nid")).distinct())
    al = F.broadcast(
        aliases.groupBy(F.col("orig").alias("_orig")).agg(
            F.min("anchor").alias("_anchor")
        )
    )
    anchor_ids = F.broadcast(nodes.select(F.col("id").alias("_anid")).distinct())
    t = F.col(target_col)
    j = (
        edges.join(ids, t == F.col("_nid"), "left")
        .join(al, t == F.col("_orig"), "left")
        .join(anchor_ids, F.col("_anchor") == F.col("_anid"), "left")
    )
    status = (
        F.when(F.col("_nid").isNotNull(), F.lit("kept"))
        .when(F.col("_anid").isNotNull(), F.lit("remapped"))
        .otherwise(F.lit("dropped"))
    )
    new_target = F.when(F.col("_nid").isNotNull(), t).when(
        F.col("_anid").isNotNull(), F.col("_anchor")
    )
    keep = [c for c in edges.columns if c != target_col]
    return j.select(
        *keep, new_target.alias(target_col), status.alias("remap_status")
    )


def merge_into_sql_stmt(table: str, updates_view: str, keys: list[str]) -> str:
    """Render the REAL ``MERGE INTO`` statement equivalent to
    :func:`merge_into`'s parquet emulation — the statement executed
    verbatim on an Iceberg/Delta catalog table (this sandbox has no
    catalog jars, so the emulation is the active path; the statement
    itself is unit-pinned so the two stay in lockstep):

      MERGE INTO t USING u ON <null-safe key equality>
      WHEN NOT MATCHED THEN INSERT *
    """
    on = " AND ".join(f"t.`{k}` <=> u.`{k}`" for k in keys)
    return (
        f"MERGE INTO {table} t USING {updates_view} u ON {on} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def accrete_evidence(arms: list[tuple[str, DataFrame]], keys: list[str]) -> DataFrame:
    """Multi-arm evidence accretion in one shot, the batch form of the
    reference's accreting MERGE arms (post-import.cypher:1052-1094's
    catalysis/transport/measured arms, each ``SET evidence_sources =
    array_union(...)`` on match): per key, ``evidence_sources`` lists
    each contributing arm once, ordered by the first arm that
    contributed — exactly what folding ``array_union`` over the arms
    IN ORDER produces (pytest-gated against a plain-Python fold).

    Scale: distinct per arm (map-side combine) + one (keys, source)
    shuffle + one keys shuffle — no iterative passes over the edge
    table.
    """
    if not arms:
        raise ValueError("accrete_evidence: at least one evidence arm required")
    tagged = None
    for i, (source, df) in enumerate(arms):
        t = (
            df.select(*keys)
            .distinct()
            .withColumn("source", F.lit(source))
            .withColumn("arm", F.lit(i))
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    per = tagged.groupBy(*keys, "source").agg(F.min("arm").alias("first_arm"))
    return per.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("first_arm", "source"))),
            lambda s: s["source"],
        ).alias("evidence_sources")
    )


def merge_into(
    spark: SparkSession, target_path: str, updates: DataFrame, keys: list[str]
) -> None:
    """Insert-if-absent into a parquet table (MERGE INTO emulation; on
    Iceberg, the ``merge_into_sql_stmt`` statement). The updates,
    deduped on ``keys`` and anti-joined against the target's key
    columns (null keys match null-safely, as ``<=>`` in the
    statement), are appended as new files; no file is rewritten. A
    key that the target already holds keeps the target's row, and a
    re-run appends nothing — the resume primitive of the north rule.
    """
    updates = updates.dropDuplicates(keys)
    # the next job commit here would publish a crashed write's tasks
    shutil.rmtree(os.path.join(target_path, "_temporary"), ignore_errors=True)
    if os.path.isdir(target_path):
        # an explicit schema reads a dir with no data file as empty
        held = spark.read.schema(
            T.StructType([updates.schema[k] for k in keys])
        ).parquet(target_path)
        on = [F.col(f"u.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys]
        updates = updates.alias("u").join(held.alias("t"), on, "left_anti")
    updates.write.mode("append").parquet(target_path)


def shacl_report(triples: DataFrame) -> DataFrame:
    """SHACL-style shape validation over the (subj, pred, obj) triple
    table — the conformance report a KG build publishes alongside the
    graph (the reference's analog is its per-sink dedup +
    referential-integrity discipline, post-import constraint pass;
    pySHACL is the single-node tool this re-expresses over Spark).
    Five shapes:

    - mentions_domain_url  (domain):   mentions.subj is an http(s) url
    - mentions_range_curie (range):    mentions.obj is a CURIE
    - sameas_irreflexive   (irreflexive): same_as_canonical never
      self-loops
    - sameas_max_card_1    (max_cardinality, per NODE): at most one
      canonical per subject
    - mentions_min_support_2 (min_support, per NODE): an object
      entity is supported by >= 2 distinct subjects (weakly-supported
      entities are flagged for curation, the SHACL sh:minCount shape)

    -> one row per constraint:
    (constraint_id, pred, kind, unit, n_checked, n_violations,
    violation_frac). Row-level shapes count triples; cardinality /
    support shapes count focus NODES (SHACL semantics).

    Scale: the three row-level shapes are conditional aggregates in
    ONE map-side-combined pass over the triple scan (no shuffle
    beyond the 1-row agg); the two node-level shapes are keyed aggs
    on (subj) / (obj) whose state is node-sized with map-side
    combine. Nothing collects, nothing sorts globally; the report is
    5 rows regardless of corpus size.
    """
    men = F.col("pred") == "mentions"
    sam = F.col("pred") == "same_as_canonical"
    row = triples.agg(
        F.sum(men.cast("long")).alias("c1_n"),
        F.sum((men & ~F.col("subj").rlike("^https?://")).cast("long")).alias(
            "c1_v"
        ),
        F.sum(men.cast("long")).alias("c2_n"),
        F.sum((men & ~F.col("obj").rlike("^[a-z]+:")).cast("long")).alias(
            "c2_v"
        ),
        F.sum(sam.cast("long")).alias("c3_n"),
        F.sum((sam & (F.col("subj") == F.col("obj"))).cast("long")).alias(
            "c3_v"
        ),
    )
    row_rows = row.selectExpr(
        """stack(3,
          'mentions_domain_url', 'mentions', 'domain', c1_n, c1_v,
          'mentions_range_curie', 'mentions', 'range', c2_n, c2_v,
          'sameas_irreflexive', 'same_as_canonical', 'irreflexive', c3_n, c3_v
        ) AS (constraint_id, pred, kind, n_checked, n_violations)"""
    ).select(
        "constraint_id", "pred", "kind",
        F.lit("triples").alias("unit"), "n_checked", "n_violations",
    )
    card = (
        triples.where(sam)
        .groupBy("subj")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum((F.col("k") > 1).cast("long")).alias("n_violations"),
        )
        .select(
            F.lit("sameas_max_card_1").alias("constraint_id"),
            F.lit("same_as_canonical").alias("pred"),
            F.lit("max_cardinality").alias("kind"),
            F.lit("nodes").alias("unit"),
            "n_checked",
            "n_violations",
        )
    )
    supp = (
        triples.where(men)
        .groupBy("obj")
        .agg(F.countDistinct("subj").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum((F.col("k") < 2).cast("long")).alias("n_violations"),
        )
        .select(
            F.lit("mentions_min_support_2").alias("constraint_id"),
            F.lit("mentions").alias("pred"),
            F.lit("min_support").alias("kind"),
            F.lit("nodes").alias("unit"),
            "n_checked",
            "n_violations",
        )
    )
    return (
        row_rows.unionByName(card)
        .unionByName(supp)
        .select(
            "constraint_id",
            "pred",
            "kind",
            "unit",
            F.coalesce(F.col("n_checked"), F.lit(0)).cast("long").alias("n_checked"),
            F.coalesce(F.col("n_violations"), F.lit(0))
            .cast("long")
            .alias("n_violations"),
            F.when(
                F.coalesce(F.col("n_checked"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_violations"), F.lit(0)).cast("double")
                    / F.col("n_checked"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("violation_frac"),
        )
    )
